"""Text-analysis operators for LLM-training-data pipelines.

All four operators (token stats, language-ID, quality scoring, document
fingerprinting) are pure `pyspark.sql.functions` expressions — no Python
UDFs — so they run inside WholeStageCodegen and scale linearly: a single
narrow projection pass over the corpus, no shuffle at all except where an
aggregation is explicitly requested. At 100 TB these are scan-bound ops.

Tokenization contract (shared with the DuckDB oracles and the dedup
module): lowercase, split on runs of whitespace, drop empty tokens.

This module is the one home of the rules the corpus-text family
(``text``, ``quality``, ``pipeline``) shares: ``tokens_expr`` /
``with_tokens`` / ``token_rows`` (the token array, one row per token),
``bigram_docs`` / ``bigrams_expr`` / ``bigram_lm_scores`` (adjacent-token
bigrams and the corpus-bigram fluency score), ``stop_count`` /
``langid_expr`` (stopword hits and the stopword-ratio language rule),
``token_chars`` (the sum of token lengths), ``per_token`` (a per-token
ratio), ``bpe_pieces`` / ``CHAR_PAIRS_SQL`` / ``_bpe_decode`` (BPE
pre-tokenizer pieces, a token's adjacent-character pairs, placeholder
decoding) and ``sql_list`` (a quoted SQL IN-list).

Zero-token documents (empty or whitespace-only text) get the oracle's
NULL semantics, not an error: ``token_chars`` of no tokens is NULL, as
DuckDB's ``list_sum([])`` is, and ``per_token`` over zero tokens is
NULL, as DuckDB's ``x / 0`` is. A ratio, score or rule built on them is
NULL for such a document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import md5_int
from ..sources.batch import load_table, parallelize_scan


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan, re-parallelized for the compute-heavy text ops
    (single small file locally; no-op on a real multi-split table)."""
    return parallelize_scan(load_table(spark, sf_dir, "documents"))


def sql_list(values) -> str:
    """``values`` as a quoted SQL IN-list: ``'a', 'b'``."""
    return ", ".join(f"'{v}'" for v in values)


# Tiny embedded stopword list for the n-gram/stopword language heuristic.
EN_STOPWORDS = ("the", "a", "of", "to", "in", "is", "and")
_STOP_SQL = sql_list(EN_STOPWORDS)
# Classification threshold: fraction of tokens that are English stopwords.
LANGID_THRESHOLD = 0.05


def tokens_expr(col: str = "text") -> Column:
    """lower → split on \\s+ → drop empties. Mirrored in SQL as
    list_filter(string_split_regex(lower(text),'\\s+'), t -> t <> '')."""
    return F.filter(F.split(F.lower(F.col(col)), r"\s+"), lambda t: t != F.lit(""))


TOKENS_SQL = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


def with_tokens(df: DataFrame) -> DataFrame:
    return df.withColumn("toks", tokens_expr())


def token_rows(df: DataFrame, *keep, alias: str = "tok") -> DataFrame:
    """``keep`` plus one row per token of ``text``, named ``alias`` (the
    tokenizer runs inside the generator)."""
    return df.select(*keep, F.explode(tokens_expr()).alias(alias))


def stop_count(words: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Number of a ``toks`` row's tokens that are in ``words``."""
    return F.size(F.filter("toks", lambda t: t.isin(*words)))


def per_token(num: Column) -> Column:
    """``num`` per token of a ``toks`` row, as a double; NULL for a
    zero-token document (DuckDB's ``x / 0``)."""
    return F.try_divide(num.cast("double"), F.size("toks"))


def langid_expr() -> Column:
    """The stopword-ratio language rule: 'en' when stopwords are at least
    LANGID_THRESHOLD of the tokens, else 'other' (so also for a
    zero-token document, whose ratio is NULL)."""
    return F.when(
        per_token(stop_count()) >= F.lit(LANGID_THRESHOLD), F.lit("en")
    ).otherwise(F.lit("other"))


def token_chars(length=F.length) -> Column:
    """Σ ``length`` over a ``toks`` row's tokens as a BIGINT; NULL when it
    has none, as DuckDB's ``list_sum([])`` is."""
    return F.when(
        F.size("toks") > 0,
        F.aggregate("toks", F.lit(0).cast("bigint"), lambda a, t: a + length(t)),
    )


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer): counts, uniques, mean length.

    Integer arithmetic + one exact double division → engine-portable values.
    """
    docs = with_tokens(load_documents(spark, sf_dir))
    return docs.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_unique_tokens"),
        per_token(token_chars()).alias("avg_token_len"),
    ).orderBy("doc_id")


TEXT_TOKEN_STATS_SQL = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique_tokens,
       CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
         AS avg_token_len
FROM tok ORDER BY doc_id
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via stopword-ratio heuristic (n-gram-free variant of the
    classic ratio classifier): share of tokens that are English stopwords;
    >= threshold → 'en'."""
    docs = with_tokens(load_documents(spark, sf_dir))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        per_token(stop_count()).alias("stopword_ratio"),
        langid_expr().alias("predicted_lang"),
    ).orderBy("doc_id")


TEXT_LANGID_SQL = f"""
WITH tok AS (SELECT doc_id, lang, {TOKENS_SQL} AS toks FROM documents),
r AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE) / len(toks)
           AS stopword_ratio
  FROM tok
)
SELECT doc_id, lang AS labeled_lang, stopword_ratio,
       CASE WHEN stopword_ratio >= {LANGID_THRESHOLD} THEN 'en' ELSE 'other' END
         AS predicted_lang
FROM r ORDER BY doc_id
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: blend of length saturation, lexical
    diversity (type-token ratio) and mean token length — the standard cheap
    pre-filters for LLM training corpora. Identical expression tree on both
    engines → bit-identical doubles."""
    docs = with_tokens(load_documents(spark, sf_dir))
    n_tok = F.size("toks").cast("double")
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + F.lit(0.3) * per_token(F.size(F.array_distinct("toks")))
        + F.lit(0.3) * F.least(F.lit(1.0), per_token(token_chars()) / F.lit(8.0))
    )
    return docs.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= F.lit(0.5)).alias("is_high_quality"),
    ).orderBy("doc_id")


TEXT_QUALITY_SQL = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS uniq_ratio,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS avg_len
  FROM tok
), s AS (
  SELECT doc_id,
         0.4 * least(1.0, n_tok / 100.0)
       + 0.3 * uniq_ratio
       + 0.3 * least(1.0, avg_len / 8.0) AS quality_score
  FROM m
)
SELECT doc_id, quality_score, quality_score >= 0.5 AS is_high_quality
FROM s ORDER BY doc_id
"""


def normalized_text_expr(col: str = "text") -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(F.col(col)), r"\s+", " "))


NORMALIZED_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized text (the
    exact-dedup key), plus a 16-hex-char prefix hash usable as a cheap
    shard/bucket key at scale."""
    docs = load_documents(spark, sf_dir)
    fp = F.md5(F.encode(normalized_text_expr(), "UTF-8"))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 16).alias("fingerprint_prefix"),
    ).orderBy("doc_id")


TEXT_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5({NORMALIZED_SQL}) AS fingerprint,
       substr(md5({NORMALIZED_SQL}), 1, 16) AS fingerprint_prefix
FROM documents ORDER BY doc_id
"""


# BPE-ish pre-tokenizer: the GPT-2-style pre-split reduced to three
# portable character classes (letter runs / digit runs / single
# non-alphanumeric marks). Class-based, no lookarounds → identical
# semantics under Java regex (Spark) and RE2 (DuckDB).
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def bpe_pieces() -> Column:
    """The BPE pre-tokenizer's pieces of ``text``: BPE_PATTERN matches
    over the lowercased, whitespace-collapsed text."""
    return F.expr(
        f"regexp_extract_all(regexp_replace(lower(text), '\\\\s+', ' '), '{BPE_PATTERN}', 0)"
    )


# A token ``w``'s adjacent-character pairs. ``w`` needs 2+ chars: Spark's
# sequence(1, 0) DESCENDS to [1, 0] where DuckDB's range is empty.
CHAR_PAIRS_SQL = "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"


def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-ish regex variant (complements the whitespace
    tokenizer in ``text_token_stats``): piece counts per class — the
    pre-tokenization statistics a tokenizer-training pipeline collects.
    Still a pure expression tree: regexp_extract_all + filters, no UDF."""
    docs = load_documents(spark, sf_dir)
    alpha = F.size(F.filter("pieces", lambda p: p.rlike("^[a-z]+$")))
    num = F.size(F.filter("pieces", lambda p: p.rlike("^[0-9]+$")))
    return (
        docs.withColumn("pieces", bpe_pieces())
        .select(
            "doc_id",
            F.size("pieces").alias("n_pieces"),
            alpha.alias("n_word_pieces"),
            num.alias("n_number_pieces"),
            (F.size("pieces") - alpha - num).alias("n_punct_pieces"),
        )
        .orderBy("doc_id")
    )


TEXT_TOKEN_BPE_SQL = rf"""
WITH p AS (
  SELECT doc_id,
         regexp_extract_all(regexp_replace(lower(text), '\s+', ' ', 'g'),
                            '{BPE_PATTERN}') AS pieces
  FROM documents
)
SELECT doc_id,
       CAST(len(pieces) AS INTEGER) AS n_pieces,
       CAST(len(list_filter(pieces, x -> regexp_full_match(x, '[a-z]+'))) AS INTEGER)
         AS n_word_pieces,
       CAST(len(list_filter(pieces, x -> regexp_full_match(x, '[0-9]+'))) AS INTEGER)
         AS n_number_pieces,
       CAST(len(pieces)
            - len(list_filter(pieces, x -> regexp_full_match(x, '[a-z]+')))
            - len(list_filter(pieces, x -> regexp_full_match(x, '[0-9]+')))
            AS INTEGER) AS n_punct_pieces
FROM p ORDER BY doc_id
"""


# Winnowing parameters (Schleimer et al. "Winnowing: Local Algorithms for
# Document Fingerprinting", public literature): k-gram rolling hashes,
# window-of-w minima selected as the document's fingerprints.
WINNOW_K = 8          # chars per k-gram
WINNOW_W = 4          # window of consecutive k-gram hashes
_WB = 31              # polynomial base
_WM = 1_000_000_007   # modulus (sum of 8 terms stays < 2^63 pre-mod)
_W_POWS = [pow(_WB, WINNOW_K - 1 - j) for j in range(WINNOW_K)]
# character code at gram position i + j of the normalized text
_ASCII_AT = "CAST(ascii(substr(norm, i + {j}, 1)) AS BIGINT)"


def _gram_hash(char: str = _ASCII_AT, suffix: str = "") -> str:
    """The k-gram polynomial hash at position i, before the modulus:
    Σ_j char(i + j) · B^(K-1-j), ``char`` formatted with the offset {j};
    ``suffix`` types the power literals (``L`` for Spark BIGINT)."""
    return " + ".join(
        f"{char.format(j=j)} * {_W_POWS[j]}{suffix}" for j in range(WINNOW_K)
    )


def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via ROLLING hash + winnowing: polynomial
    k-gram hashes over the normalized text, then the minimum of every
    w-window (ties → leftmost via position tiebreak is unnecessary since
    plain min over values is taken identically in both engines) — the
    classic local fingerprinting scheme whose guarantee is that any match
    of length ≥ k+w−1 shares a fingerprint. Pure integer expression tree
    (ascii codes × precomputed base powers, mod a 31-bit prime): no UDF,
    engine-exact. Output is the per-doc fingerprint-set summary (count /
    min / max / sum) — the joinable form; exploding (doc_id, fp) pairs for
    cross-doc matching is one `explode` away."""
    docs = load_documents(spark, sf_dir).select(
        "doc_id", normalized_text_expr().alias("norm")
    )
    hashes = F.expr(
        f"transform(sequence(1, greatest(1, length(norm) - {WINNOW_K - 1})),"
        f" i -> ({_gram_hash(suffix='L')}) % {_WM}L)"
    )
    fps = F.expr(
        f"array_distinct(transform(sequence(1, greatest(1, size(hs) - {WINNOW_W - 1})),"
        f" i -> array_min(slice(hs, i, {WINNOW_W}))))"
    )
    return (
        docs.withColumn("hs", hashes)
        .withColumn("fps", fps)
        .select(
            "doc_id",
            F.size("fps").alias("n_fingerprints"),
            F.array_min("fps").alias("min_fp"),
            F.array_max("fps").alias("max_fp"),
            F.aggregate(
                "fps", F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ).alias("sum_fp"),
        )
        .orderBy("doc_id")
    )


def _winnow_sql() -> str:
    return f"""
WITH n AS (SELECT doc_id, {NORMALIZED_SQL} AS norm FROM documents),
h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(1, length(norm) - {WINNOW_K - 1}) + 1),
                        i -> ({_gram_hash()}) % {_WM}) AS hs
  FROM n
),
f AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(1, len(hs) - {WINNOW_W - 1}) + 1),
                                      i -> list_min(hs[i:i+{WINNOW_W - 1}]))) AS fps
  FROM h
)
SELECT doc_id,
       CAST(len(fps) AS INTEGER) AS n_fingerprints,
       list_min(fps) AS min_fp,
       list_max(fps) AS max_fp,
       CAST(list_sum(fps) AS BIGINT) AS sum_fp
FROM f ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC)
# ---------------------------------------------------------------------------

# A chunk boundary falls after any k-gram whose rolling hash is divisible by
# CDC_DIV — expected chunk length ~CDC_DIV chars (+K). Content-defined cuts
# survive insertions/deletions (a byte edit only moves the two adjacent
# boundaries), which is what makes chunk-level dedup work where fixed-size
# blocks fail.
CDC_DIV = 64


def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + corpus-level chunk dedup stats — the
    storage-layer dedup primitive (rsync/LBFS/restic lineage) a 100 TB
    ingest tier uses to skip re-storing shifted copies of the same text.
    Boundaries are CONTENT-defined: the same winnowing k-gram polynomial
    rolling hash (shared constants WINNOW_K/_WB/_WM), a cut after every
    gram whose hash % CDC_DIV == 0. Unlike fixed-size blocks, an edit
    only perturbs its own chunk: every other chunk hash is unchanged, so
    near-identical docs share most chunks. Per doc: chunk count, chunks
    whose md5 occurs at >=2 (doc, position) chunk slots corpus-wide,
    duplicated bytes, and mean chunk length in fixed-point millichars.
    (The classic min/max chunk-size guards are omitted — they only bound
    variance and would obscure the exactness contract; the divisor sets
    the expected length.)

    Scale shape: chunking is pure map-side expression work (no UDF); the
    only shuffles are the window count over the chunk hash (the
    dedup_ngram_jaccard df pattern) and the per-doc rollup. Every value
    is integer, engine-exact."""
    # localCheckpoint(eager=False) is an OPTIMIZER BARRIER here, not a
    # reuse cache: it makes `norm` and the char-code array `cs` REAL
    # stored columns. Without it, project collapse inlines their
    # expressions into the rolling-hash lambda, where an indexed access
    # re-evaluates the whole upstream expression per element — the first
    # formulation of this query ran 22s at sf0.001 for that reason.
    # With cs materialized, element_at(cs, i) is an O(1) array read and
    # the per-position hash is pure integer arithmetic (measured ~7x
    # faster than re-substringing norm at every position).
    docs = (
        load_documents(spark, sf_dir)
        .select("doc_id", normalized_text_expr().alias("norm"))
        .filter(F.length("norm") > 0)
        .withColumn(
            "cs", F.expr("transform(split(norm, ''), c -> CAST(ascii(c) AS BIGINT))")
        )
        .localCheckpoint(eager=False)
    )
    gram_hash = _gram_hash("element_at(cs, i + {j})", "L")
    # EXPRESSION-SHAPE CONSTRAINT: each derived array below references its
    # upstream only via WHOLE-ARRAY ops (slice/size/concat/zip_with), never
    # element_at inside a lambda over another sequence. Catalyst's project
    # collapse inlines withColumn chains, and an indexed access inside a
    # lambda then re-evaluates the entire upstream expression PER ELEMENT —
    # an O(len²·K) blowup that turned the first formulation of this query
    # into a hang. Whole-array references evaluate the upstream a constant
    # number of times per row instead.
    #
    # cut ends: i + K - 1 for gram positions whose rolling hash is
    # divisible by CDC_DIV; the i+K-1 <= L guard drops the one garbage
    # position the greatest(1, ...) floor introduces for docs shorter
    # than K chars (they become one chunk).
    ends = F.expr(
        f"transform(filter(sequence(1, greatest(1, size(cs) - {WINNOW_K - 1})),"
        f" i -> i + {WINNOW_K - 1} <= size(cs)"
        f" AND ({gram_hash}) % {_WM}L % {CDC_DIV} = 0),"
        f" i -> CAST(i + {WINNOW_K - 1} AS BIGINT))"
    )
    # chunk (start, end) pairs directly: starts = 0 ++ ends, stops =
    # ends ++ L — `ends` is strictly increasing, so no sort/distinct; the
    # one possible degenerate pair (a cut exactly at L duplicating the
    # final stop) yields an empty substring and is filtered. `ends` is
    # referenced exactly twice and `chunks` once (by the explode), keeping
    # total work O(len·K) per row after Catalyst inlines the chain.
    chunks = F.expr(
        "filter(zip_with(concat(array(0L), ends),"
        " concat(ends, array(CAST(length(norm) AS BIGINT))),"
        " (s, e) -> substring(norm, CAST(s + 1 AS INT), CAST(e - s AS INT))),"
        " c -> c <> '')"
    )
    ch = (
        docs.withColumn("ends", ends)
        .withColumn("chunks", chunks)
        .select("doc_id", F.explode("chunks").alias("c"))
        .select("doc_id", F.md5("c").alias("hc"), F.length("c").alias("clen"))
    )
    dfc = ch.withColumn("dfh", F.count("*").over(Window.partitionBy("hc")))
    return (
        dfc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("clen").alias("n_chars"),
            F.sum(F.when(F.col("dfh") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
            F.sum(F.when(F.col("dfh") > 1, F.col("clen")).otherwise(0)).alias(
                "dup_bytes"
            ),
        )
        .withColumn(
            "chunk_len_milli", F.expr("n_chars * 1000 div n_chunks")
        )
        .orderBy("doc_id")
    )


def _cdc_sql() -> str:
    return f"""
WITH n AS (SELECT doc_id, {NORMALIZED_SQL} AS norm FROM documents
           WHERE length({NORMALIZED_SQL}) > 0),
h AS (
  SELECT doc_id, norm,
         list_transform(range(1, greatest(1, length(norm) - {WINNOW_K - 1}) + 1),
                        i -> ({_gram_hash()}) % {_WM}) AS hs
  FROM n
),
b AS (
  SELECT doc_id, norm,
         [CAST(i + {WINNOW_K - 1} AS BIGINT)
          for i in range(1, len(hs) + 1)
          if i + {WINNOW_K - 1} <= length(norm)
             and (hs[i] % {CDC_DIV}) = 0] AS ends
  FROM h
),
p AS (
  SELECT doc_id, norm,
         [CAST(0 AS BIGINT)] || ends AS starts,
         ends || [CAST(length(norm) AS BIGINT)] AS stops
  FROM b
),
ch AS (
  SELECT doc_id, c FROM (
    SELECT doc_id,
           unnest([substr(norm, CAST(starts[j] + 1 AS INT),
                          CAST(stops[j] - starts[j] AS INT))
                   for j in range(1, len(starts) + 1)]) AS c
    FROM p
  ) WHERE c <> ''
),
hc AS (SELECT doc_id, md5(c) AS hc, length(c) AS clen FROM ch),
dfc AS (
  SELECT doc_id, clen, COUNT(*) OVER (PARTITION BY hc) AS dfh FROM hc
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(clen) AS BIGINT) AS n_chars,
       CAST(SUM(CASE WHEN dfh > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(SUM(CASE WHEN dfh > 1 THEN clen ELSE 0 END) AS BIGINT) AS dup_bytes,
       CAST((SUM(clen) * 1000) // COUNT(*) AS BIGINT) AS chunk_len_milli
FROM dfc GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Token co-occurrence pairs (the PMI / market-basket building block)
# ---------------------------------------------------------------------------

COOC_DF_MIN_PCT = 10  # vocabulary band: tokens in 10%..90% of docs
COOC_DF_MAX_PCT = 90
COOC_TOP = 25


def text_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 co-occurring token pairs over a MID-FREQUENCY vocabulary
    band (10%–90% document frequency; the bounds are per-corpus tuning —
    the fixture's generated vocabulary is small and common, a web corpus
    would band much lower) — the co-occurrence statistic under
    PMI, word embeddings, and market-basket association rules. The lift
    proxy is integer fixed-point: co·n_docs·10^6 DIV (df_a·df_b), no
    logarithm.

    The df band is the scale guard: universal tokens (stopwords) would
    make the per-doc pair product quadratic in document LENGTH corpus-
    wide; banding bounds pairs per doc by the (small) count of mid-
    frequency terms it contains. Plan: df aggregation, band filter, one
    per-doc collect of the banded tokens, then the pairs explode
    MAP-SIDE from the sorted in-row array (the graph_kcore pair-explosion
    shape) straight into the pair partial agg — the r09 rewrite of the
    original doc_id self-join, which shuffled the banded stream twice
    and re-derived the tokenize+distinct chain per side. The distinct
    frame feeds the df agg AND the band join UNPINNED (r12): the two
    branches share an identical distinct-exchange subtree, which AQE
    reuses at runtime (one tokenize+distinct pass either way), and the
    localCheckpoint that used to sit here only added materialization
    I/O — 2.95 → 2.24 s at sf0.1 in the A/B harness.
    """
    toks = token_rows(load_documents(spark, sf_dir), "doc_id").distinct()
    # n_docs stays IN-PLAN as a broadcast 1-row aggregate (same pattern as
    # q_mean_impute): an eager .count() here would be a full extra corpus
    # scan per plan build at 100 TB.
    nd = load_documents(spark, sf_dir).agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    band = df.crossJoin(F.broadcast(nd)).filter(
        (F.col("df") * 100 >= COOC_DF_MIN_PCT * F.col("n_docs"))
        & (F.col("df") * 100 <= COOC_DF_MAX_PCT * F.col("n_docs"))
    )
    # r13 (guide §2.3: shuffle keys, not payloads): the pair aggregation
    # used to key on (tok_a, tok_b, df_a, df_b, n_docs) — two strings
    # plus three functionally-dependent longs per exploded pair row.
    # The banded vocabulary is a broadcast-sized ledger, so each token
    # gets a dense integer id from a ledger window ordered by the token
    # string; the per-doc array sorts by id (≡ the previous string
    # sort, ids are rank-assigned), pairs explode as (int, int), the
    # partial agg keys on 8 bytes instead of two strings, and the
    # strings/dfs/n_docs join back onto the ≤|band|² aggregated pair
    # rows via the same broadcast ledger. Same pair multiset, same
    # counts, same output columns.
    wband = Window.orderBy("tok")
    # pinned: the id ledger has THREE consumers (doc join + two
    # post-agg decode joins); without the pin each re-derives the
    # distinct+df+window chain in the plan (24 → 62 Exchange refs
    # measured) even though AQE reuses the exchanges at runtime
    bandid = band.select(
        "tok", "df", "n_docs", F.row_number().over(wband).alias("tid")
    ).localCheckpoint(eager=False)
    docarr = (
        toks.join(F.broadcast(bandid.select("tok", "tid")), "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("tid")).alias("ts"))
    )
    # all (i<j) pairs of the sorted per-doc array, generated in-row:
    # state is the banded-token count per doc (bounded by the df band)
    pair = docarr.select(
        F.explode(
            F.expr(
                "flatten(transform(ts, (a, i) ->"
                " transform(slice(ts, i + 2, size(ts)),"
                " b -> struct(a AS ta, b AS tb))))"
            )
        ).alias("p"),
    )
    pairs = (
        pair.groupBy(F.col("p.ta").alias("ta"), F.col("p.tb").alias("tb"))
        .agg(F.count(F.lit(1)).alias("co_count"))
    )
    ja = bandid.select(
        F.col("tid").alias("ta"), F.col("tok").alias("tok_a"),
        F.col("df").alias("df_a"),
    )
    jb = bandid.select(
        F.col("tid").alias("tb"), F.col("tok").alias("tok_b"),
        F.col("df").alias("df_b"), "n_docs",
    )
    return (
        pairs.join(F.broadcast(ja), "ta")
        .join(F.broadcast(jb), "tb")
        .select(
            "tok_a",
            "tok_b",
            "co_count",
            "df_a",
            "df_b",
            F.expr(
                "co_count * CAST(n_docs AS BIGINT) * 1000000"
                " DIV (df_a * df_b)"
            ).alias("lift_fp"),
        )
        .orderBy(F.desc("co_count"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(COOC_TOP)
    )


def _cooc_sql() -> str:
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok),
band AS (
  SELECT tok, df FROM df, nd
  WHERE df * 100 >= {COOC_DF_MIN_PCT} * n_docs
    AND df * 100 <= {COOC_DF_MAX_PCT} * n_docs
),
banded AS (SELECT doc_id, toks.tok, df FROM toks JOIN band USING (tok)),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, a.df AS df_a, b.df AS df_b,
         COUNT(*) AS co_count
  FROM banded a JOIN banded b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok, a.df, b.df
)
SELECT tok_a, tok_b, co_count, df_a, df_b,
       CAST(co_count * (SELECT n_docs FROM nd) * 1000000 // (df_a * df_b)
            AS BIGINT) AS lift_fp
FROM pairs
ORDER BY co_count DESC, tok_a, tok_b LIMIT {COOC_TOP}
"""


# ---------------------------------------------------------------------------
# Fixed-width overlapping chunking (LLM context-window preparation)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 128  # chars per chunk
CHUNK_STRIDE = 96  # chunk start spacing (CHUNK_SIZE - CHUNK_STRIDE overlap)


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping fixed-width character chunks
    (size 128, stride 96 → 32-char overlap) — the context-window
    preparation step of an LLM training pipeline.

    Pure expression tree: ``sequence`` generates the chunk starts,
    ``posexplode`` fans them out, ``substring`` slices — all inside
    WholeStageCodegen, no shuffle, no UDF. At 100 TB this is a narrow
    scan-bound map whose output is ~(1 + overlap/stride)× the input bytes;
    it pipelines directly into a parquet sink without ever materializing
    per-doc state.
    """
    docs = load_documents(spark, sf_dir).filter(F.length("text") > 0)
    starts = F.sequence(
        F.lit(0), F.length("text") - F.lit(1), F.lit(CHUNK_STRIDE)
    )
    return (
        docs.select(
            "doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start_char")
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("start_char").cast("long").alias("start_char"),
            F.expr(f"substring(text, start_char + 1, {CHUNK_SIZE})").alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk").cast("long"))
    )


TEXT_CHUNK_SQL = f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
s AS (
  SELECT doc_id, text,
         unnest(generate_series(0, length(text) - 1, {CHUNK_STRIDE})) AS start_char
  FROM d
)
SELECT doc_id,
       CAST(start_char // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(start_char AS BIGINT) AS start_char,
       substring(text, CAST(start_char AS INT) + 1, {CHUNK_SIZE}) AS chunk,
       CAST(length(substring(text, CAST(start_char AS INT) + 1, {CHUNK_SIZE}))
            AS BIGINT) AS chunk_len
FROM s
"""




SEARCH_TERMS = ("spark", "stream", "query")
SEARCH_TOP = 20


def text_search_and_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive full-text search with length-normalized tf ranking:
    documents containing ALL query terms, ranked by Σ tf·10⁶/doc_len —
    the inverted-index retrieval primitive. The explode is immediately
    filtered to the query terms (a tiny IN list), so the posting list
    that shuffles is |matching (doc, term)| rows, never the full token
    stream; the AND semantics fall out of counting distinct matched
    terms per doc.

    Scoring is integer fixed-point so the oracle is hash-exact. BM25 is
    this exact plan with log-idf·tf-saturation weights instead — the
    rational weights here exist only because log() drifts by 1 ulp
    across engines; at scale either weighting rides the same shuffle.
    """
    docs = with_tokens(load_documents(spark, sf_dir)).select("doc_id", "toks")
    hits = (
        docs.select(
            "doc_id",
            F.size("toks").cast("long").alias("doc_len"),
            F.explode("toks").alias("term"),
        )
        .filter(F.col("term").isin(*SEARCH_TERMS))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = hits.groupBy("doc_id", "doc_len").agg(
        F.countDistinct("term").alias("n_matched"),
        F.sum(F.expr("tf * 1000000 DIV doc_len")).alias("score_ppm"),
    )
    return (
        scored.filter(F.col("n_matched") == len(SEARCH_TERMS))
        .select("doc_id", "doc_len", "n_matched", "score_ppm")
        .orderBy(F.desc("score_ppm"), "doc_id")
        .limit(SEARCH_TOP)
    )


_SEARCH_TERMS_SQL = sql_list(SEARCH_TERMS)
TEXT_SEARCH_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
), exploded AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS doc_len, unnest(toks) AS term
  FROM toks
), hits AS (
  SELECT doc_id, doc_len, term, COUNT(*) AS tf
  FROM exploded WHERE term IN ({_SEARCH_TERMS_SQL})
  GROUP BY doc_id, doc_len, term
), scored AS (
  SELECT doc_id, doc_len, COUNT(DISTINCT term) AS n_matched,
         CAST(SUM(tf * 1000000 // doc_len) AS BIGINT) AS score_ppm
  FROM hits GROUP BY doc_id, doc_len
)
SELECT doc_id, doc_len, n_matched, score_ppm
FROM scored WHERE n_matched = {len(SEARCH_TERMS)}
ORDER BY score_ppm DESC, doc_id
LIMIT {SEARCH_TOP}
"""


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75), DISJUNCTIVE over the query terms,
    as exact rational arithmetic — the standard-weighting counterpart to
    ``text_search_and_rank``'s conjunctive tf/len ranking.

    Both BM25 factors are computed as integer-exact rationals so the
    oracle hash-matches: the tf-saturation term with k1=6/5, b=3/4
    clears to 44·tf·L / (20·L·tf + 6·L + 18·dl·N) (L = total corpus
    tokens, N = corpus docs, dl = doc length — multiply through by the
    avgdl=L/N denominator), and IDF uses the log-free odds ratio
    (N−df+½)/(df+½) in ppm — log() drifts by 1 ulp across engines, and
    the odds ratio preserves the df ordering log would impose. Products
    run in DECIMAL(38,0)/HUGEINT (corpus-scale tf·L·10⁶ leaves BIGINT).

    Plan shape is the inverted-index one: explode→filter to the tiny
    query-term IN list (the posting lists shuffle, never the token
    stream), per-term df as a broadcast side, corpus totals as a 1-row
    broadcast, one partial-agg fold per doc, global top-K of a
    SEARCH_TOP-bounded result."""
    docs = load_documents(spark, sf_dir)
    lens = docs.select("doc_id", F.size(tokens_expr()).cast("long").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    hits = (
        token_rows(docs, "doc_id", alias="term")
        .filter(F.col("term").isin(*SEARCH_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = hits.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        hits.join(F.broadcast(df_t), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.expr(
                "CAST((2 * (n_docs - df) + 1) * CAST(1000000 AS DECIMAL(38,0))"
                " DIV (2 * df + 1) AS BIGINT)"
            ).alias("idf_ppm"),
            F.expr(
                "CAST(44 * tf * CAST(total_len AS DECIMAL(38,0)) * 1000000"
                " DIV (20 * total_len * tf + 6 * total_len + 18 * dl * n_docs)"
                " AS BIGINT)"
            ).alias("tfc_ppm"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.expr(
                "CAST(SUM(CAST(idf_ppm AS DECIMAL(38,0)) * tfc_ppm DIV 1000000)"
                " AS BIGINT)"
            ).alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), "doc_id")
        .limit(SEARCH_TOP)
    )


TEXT_BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
), lens AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM lens
), hits AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(toks) AS term FROM toks
  ) WHERE term IN ({_SEARCH_TERMS_SQL})
  GROUP BY doc_id, term
), dfs AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term
), scored AS (
  SELECT h.doc_id,
         CAST((2 * (n_docs - df) + 1) * CAST(1000000 AS HUGEINT)
              // (2 * df + 1) AS BIGINT) AS idf_ppm,
         CAST(44 * tf * CAST(total_len AS HUGEINT) * 1000000
              // (20 * total_len * tf + 6 * total_len + 18 * dl * n_docs)
              AS BIGINT) AS tfc_ppm
  FROM hits h JOIN dfs USING (term) JOIN lens l ON h.doc_id = l.doc_id, stats
)
SELECT doc_id, COUNT(*) AS n_terms_hit,
       CAST(SUM(CAST(idf_ppm AS HUGEINT) * tfc_ppm // 1000000) AS BIGINT)
         AS score_ppm
FROM scored GROUP BY doc_id
ORDER BY score_ppm DESC, doc_id
LIMIT {SEARCH_TOP}
"""


def bigram_docs(spark: SparkSession, sf_dir: str, *keep: str) -> DataFrame:
    """(doc_id, keep..., toks) of the documents with at least 2 tokens:
    the input of every adjacent-bigram query."""
    return (
        load_documents(spark, sf_dir)
        .select("doc_id", *keep, tokens_expr().alias("toks"))
        .filter(F.size("toks") >= 2)
    )


def bigrams_expr(pair: str = "concat({a}, ' ', {b})") -> Column:
    """A ``toks`` row's adjacent-token bigrams, each built by ``pair``
    from its left token {a} and right token {b}: by default the
    space-joined string (tokens hold no space, so it splits back
    exactly). Needs 2+ tokens: sequence(1, 0) descends in Spark."""
    body = pair.format(a="element_at(toks, i)", b="element_at(toks, i + 1)")
    return F.expr(f"transform(sequence(1, size(toks) - 1), i -> {body})")


def bigram_lm_scores(tokd: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, mean_bg_ppm) of a ``bigram_docs`` frame: each
    doc's mean corpus count of its bigrams, in ppm of all bigrams."""
    doc_bgs = tokd.select("doc_id", F.explode(bigrams_expr()).alias("bg"))
    bg_counts = doc_bgs.groupBy("bg").agg(F.count(F.lit(1)).alias("bg_count"))
    total = bg_counts.agg(F.sum("bg_count").alias("total_bg"))
    return (
        doc_bgs.join(bg_counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("bg_count").alias("sum_counts"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_bigrams",
            F.expr(
                "CAST(CAST(sum_counts AS DECIMAL(38,0)) * 1000000"
                " DIV (n_bigrams * total_bg) AS BIGINT)"
            ).alias("mean_bg_ppm"),
        )
    )


def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluency scoring by corpus bigram statistics — the log-prob-free
    stand-in for LM-perplexity filtering (the classic quality gate a
    training pipeline runs before a real LM is available): each doc is
    scored by the mean corpus frequency of its adjacent token bigrams,
    in ppm of the corpus bigram total. Template/boilerplate text scores
    high, token-salad scores low; the ranking matches what mean
    per-bigram probability would give, computed as exact integers
    (DECIMAL(38,0)/HUGEINT for the corpus-scale Σcount·10⁶ product)
    instead of drift-prone log sums.

    Plan: bigrams materialize per doc as an array transform (no
    position self-join), counts collapse map-side into the corpus
    bigram table, and scoring is one shuffle of the doc-bigram stream
    joined against those counts — the inverted LM-scoring shape whose
    shuffle carries tokens, never token². The 1-row bigram total rides
    a broadcast cross join.
    """
    return bigram_lm_scores(bigram_docs(spark, sf_dir)).orderBy("doc_id")


TEXT_BIGRAM_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
), db AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
  WHERE len(toks) >= 2
), bc AS (
  SELECT bg, COUNT(*) AS bg_count FROM db GROUP BY bg
), total AS (SELECT SUM(bg_count) AS total_bg FROM bc)
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(CAST(SUM(bg_count) AS HUGEINT) * 1000000
            // (COUNT(*) * ANY_VALUE(total_bg)) AS BIGINT) AS mean_bg_ppm
FROM db JOIN bc USING (bg), total
GROUP BY doc_id ORDER BY doc_id
"""


BPE_TOP = 20


def text_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training primitive: corpus-wide adjacent-symbol pair
    frequencies (here the first merge round, over characters) — the
    argmax of this table IS the next merge rule. Full BPE training
    iterates count → merge → re-segment; each round is exactly this
    one explode + partial-agg shuffle over the CURRENT symbol
    sequences, so the scale shape is (vocab_size − 256) × this query,
    embarrassingly map-side (pairs collapse before the exchange).

    The pair generation is a pure expression (transform over a
    sequence of substring slices) — no UDF, stays in codegen.
    """
    # 1-char tokens must be dropped BEFORE pair expansion: Spark's
    # sequence(1, 0) yields the DESCENDING array [1, 0], and substring(w, 0, 1)
    # treats position 0 as 1, so without this filter every 1-char token emits a
    # spurious doubled-letter pair ('a' -> 'aa'). DuckDB's generate_series(1, 0)
    # is empty, so the engines diverge (and the pair is semantically wrong for
    # BPE anyway — there is no adjacent pair inside a 1-symbol sequence).
    toks = token_rows(load_documents(spark, sf_dir), alias="w")
    pairs = toks.filter(F.length("w") >= 2).select(
        F.explode(F.expr(CHAR_PAIRS_SQL)).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOP)
    )


TEXT_BPE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT unnest({TOKENS_SQL}) AS w FROM documents
), pairs AS (
  SELECT substr(w, i, 2) AS pair
  FROM toks, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) g
)
SELECT pair, COUNT(*) AS n
FROM pairs
WHERE length(pair) = 2
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_TOP}
"""


# Multi-round BPE training: number of merge rules learned, and the fresh
# single-character symbol each round's merged pair is encoded as (tokens
# are lowercase ASCII, so uppercase placeholders can never collide with a
# corpus character; binary string order over ASCII is identical in both
# engines, keeping the tie-break exact). 6 rounds because that is where
# recounting first MATTERS on the fixture: rounds 1-5 merge disjoint
# character pairs, but round 5's 'er' symbol turns "mer" occurrences into
# a new (m, er) symbol pair that outranks the static round-6 candidate.
BPE_ROUNDS = 6
_BPE_PH = "ABCDEF"


def _bpe_decode(e: str, k: int) -> str:
    """``e`` (an expression over round k's symbols) with the placeholders
    of rules k-1..1 expanded, highest first, by their decoded columns
    d{j}: a linear-size expression."""
    for j in range(k - 1, 0, -1):
        e = f"replace({e}, '{_BPE_PH[j - 1]}', d{j})"
    return e


def text_bpe_multiround(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multi-round BPE merge TRAINING (Sennrich et al. 2016, §3.2)
    — the iterated form of ``text_bpe_pair_merges``, which learns only
    the first rule. Real BPE training recounts pair frequencies after
    every merge because rule k changes the counts feeding rule k+1:
    once round 1 fuses 'er' into one symbol, the characters inside it
    stop contributing to 'me'/'rs'-style pairs, and brand-new pairs
    (symbol-adjacent characters) enter the race. On this corpus the
    divergence appears at round {BPE_ROUNDS}: the dynamic winner is the
    (m, er) SYMBOL pair — impossible under static ranking, which would
    pick the stale character pair instead (pytest asserts exactly this
    against an explicit Python reimplementation).

    Spark-first shape (the HITS unroll pattern): the corpus is read
    ONCE into the (word, freq) vocabulary ledger — 31 rows here,
    bounded by the word vocabulary (~10⁶) at 100 TB, never the token
    stream — and every round is ledger-sized: one adjacent-pair
    partial agg over the ledger, a 1-row argmax (count desc, pair asc),
    and a broadcast-crossJoin re-encode ``replace(w, pair, symbol)``
    (string replace is leftmost-first non-overlapping in both engines —
    exactly BPE's greedy left-to-right merge application). Each round's
    vocabulary is localCheckpoint-pinned: the chain would otherwise
    re-derive 2^k plan branches (the plan-duplication trap). Merged
    symbols are re-encoded as fresh single characters, so "pair" stays
    a 2-char string and round k's state is a plain string column — no
    arrays, no UDFs, pure codegen.

    Output: one row per learned rule — the DECODED left/right symbols
    (placeholder expansion by reverse replace chain), the winning
    count, and the post-merge corpus symbol count (the compression
    ledger a tokenizer trainer tracks). All integers and ASCII strings;
    the oracle unrolls the identical rounds as MATERIALIZED CTEs."""
    vocab = (
        token_rows(load_documents(spark, sf_dir), alias="w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .localCheckpoint(eager=False)
    )
    prev = vocab
    acc: DataFrame | None = None
    for k in range(1, BPE_ROUNDS + 1):
        pairs = (
            prev.filter(F.length("w") >= 2)
            .select(F.explode(F.expr(CHAR_PAIRS_SQL)).alias("pair"), "f")
            .groupBy("pair")
            .agg(F.sum("f").alias("n"))
        )
        # NOT checkpointed (r13, measured): each localCheckpoint costs
        # ~0.15-0.2 s of DRIVER analysis per round while the whole
        # query's execution is ~0.25 s — and the per-round `prev` pin
        # below already truncates the lineage, so best's plan stays one
        # round deep without its own pin (the 2^k plan-duplication trap
        # needs an UNpinned prev chain, not an unpinned best). The two
        # consumers (prev's broadcast + acc) re-derive a 31-row
        # aggregate from prev's pinned RDD — runtime noise.
        best = (
            pairs.orderBy(F.desc("n"), "pair")
            .limit(1)
            .select(F.col("pair").alias(f"p{k}"), F.col("n").alias(f"n{k}"))
        )
        ph = _BPE_PH[k - 1]
        # merge application: injective (the fresh symbol decodes back),
        # so distinct vocabulary rows stay distinct — no re-aggregation
        prev = (
            prev.crossJoin(F.broadcast(best))
            .select(F.expr(f"replace(w, p{k}, '{ph}')").alias("w"), "f")
            .localCheckpoint(eager=False)
        )
        stat = prev.groupBy().agg(
            F.expr("CAST(sum(f * length(w)) AS BIGINT)").alias(f"s{k}")
        )
        acc = best.crossJoin(stat) if acc is None else (
            acc.crossJoin(best).crossJoin(stat)
        )
        # decoded expansion of rule k, from the PREVIOUS rules' already
        # decoded expansions
        acc = acc.withColumn(f"d{k}", F.expr(_bpe_decode(f"p{k}", k)))

    assert acc is not None
    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("merge_round"),
                F.expr(_bpe_decode(f"substring(p{k}, 1, 1)", k)).alias("left_sym"),
                F.expr(_bpe_decode(f"substring(p{k}, 2, 1)", k)).alias("right_sym"),
                F.col(f"d{k}").alias("merged_sym"),
                F.col(f"n{k}").alias("n"),
                F.col(f"s{k}").alias("symbols_after"),
            )
            for k in range(1, BPE_ROUNDS + 1)
        ]
    )
    return (
        acc.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("merge_round")
    )


def _bpe_multiround_sql() -> str:
    parts = [
        f"WITH tok AS (SELECT unnest({TOKENS_SQL}) AS w FROM documents),",
        "vocab1 AS MATERIALIZED ("
        " SELECT w, COUNT(*) AS f FROM tok GROUP BY w),",
    ]
    for k in range(1, BPE_ROUNDS + 1):
        ph = _BPE_PH[k - 1]
        parts.append(
            f"pairs{k} AS MATERIALIZED ("
            f" SELECT substr(w, i, 2) AS pair, CAST(SUM(f) AS BIGINT) AS n"
            f" FROM vocab{k}, LATERAL (SELECT unnest("
            f"   generate_series(1, length(w) - 1)) AS i) g"
            f" WHERE length(w) >= 2 GROUP BY pair),"
        )
        parts.append(
            f"b{k} AS MATERIALIZED (SELECT pair AS p{k}, n AS n{k}"
            f" FROM pairs{k} ORDER BY n DESC, pair LIMIT 1),"
        )
        parts.append(
            f"vocab{k + 1} AS MATERIALIZED ("
            f" SELECT replace(w, p{k}, '{ph}') AS w, f FROM vocab{k}, b{k}),"
        )
        parts.append(
            f"s{k} AS (SELECT CAST(SUM(f * length(w)) AS BIGINT) AS s{k}"
            f" FROM vocab{k + 1}),"
        )
        deps = ", ".join([f"b{k}"] + [f"dec{j}" for j in range(1, k)])
        parts.append(
            f"dec{k} AS (SELECT {_bpe_decode(f'p{k}', k)} AS d{k} FROM {deps}),"
        )
    selects = []
    for k in range(1, BPE_ROUNDS + 1):
        deps = ", ".join(
            [f"b{k}"] + [f"dec{j}" for j in range(1, k + 1)] + [f"s{k}"]
        )
        left, right = (_bpe_decode(f"substr(p{k}, {p}, 1)", k) for p in (1, 2))
        selects.append(
            f"SELECT {k} AS merge_round, {left} AS left_sym,"
            f" {right} AS right_sym, d{k} AS merged_sym,"
            f" n{k} AS n, s{k} AS symbols_after FROM {deps}"
        )
    # the final CTE entry ends with a trailing comma — strip it
    return (
        "\n".join(parts)[:-1]
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY merge_round"
    )


TEXT_BPE_MULTIROUND_SQL = _bpe_multiround_sql()



def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary concentration per language via the Simpson index
    (Rényi-2 collision probability): Σ(n_tok²) / N² — the probability
    two random tokens coincide. Shannon entropy needs log() (1-ulp
    drift across engines); Simpson carries the same "how concentrated
    is this corpus's vocabulary" signal as an EXACT rational, reported
    in ppb. High values flag template/boilerplate-heavy languages that
    need dedup before training.

    Two partial-agg shuffles: per-(lang, token) counts, then the
    per-lang fold of squared counts — token counts collapse map-side,
    so the exchange carries vocabulary, not the token stream.
    """
    toks = token_rows(load_documents(spark, sf_dir), "lang")
    per_tok = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_tok.groupBy("lang")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_distinct",
            # wide arithmetic: per-lang token counts at corpus scale make
            # both sum_sq·1e9 and n_tokens² wrap BIGINT (n_tokens ~ 1e12
            # at 100 TB); DECIMAL(38,0)/HUGEINT keeps the ppb exact
            F.expr(
                "CAST(CAST(sum_sq AS DECIMAL(38,0)) * 1000000000"
                " DIV (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)"
            ).alias("simpson_ppb"),
        )
        .orderBy("lang")
    )


TEXT_SIMPSON_SQL = f"""
WITH toks AS (
  SELECT lang, unnest({TOKENS_SQL}) AS tok FROM documents
), per_tok AS (
  SELECT lang, tok, COUNT(*) AS n FROM toks GROUP BY lang, tok
)
SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       CAST(CAST(SUM(n * n) AS HUGEINT) * 1000000000
            // (CAST(SUM(n) AS HUGEINT) * SUM(n)) AS BIGINT) AS simpson_ppb
FROM per_tok GROUP BY lang ORDER BY lang
"""


def text_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME chunking contract as ``text_chunk_windows``, expressed as
    a Python UDTF (Spark 3.5+ user-defined TABLE function) invoked with
    LATERAL — one input row fans out to N chunk rows from imperative
    Python. Registered against the identical oracle to prove the two
    forms agree byte-for-byte.

    This exists to cover the UDTF API surface, NOT as the hot path: the
    expression-tree version (sequence/posexplode/substring) stays fully
    inside WholeStageCodegen, while a UDTF crosses the Python boundary
    per row. Rule of thumb this pair demonstrates: reach for a UDTF only
    when the fan-out logic genuinely can't be an expression.
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_idx: long, start_char: long, chunk: string, chunk_len: long"
    )
    class Chunker:
        def eval(self, text: str):
            if not text:
                return
            start, idx = 0, 0
            n = len(text)
            while start < n:
                piece = text[start : start + CHUNK_SIZE]
                yield idx, start, piece, len(piece)
                idx += 1
                start += CHUNK_STRIDE

    spark.udtf.register("chunk_udtf", Chunker)
    load_documents(spark, sf_dir).createOrReplaceTempView("documents_v")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.start_char, c.chunk, c.chunk_len "
        "FROM documents_v d, LATERAL chunk_udtf(d.text) c "
        "WHERE length(d.text) > 0"
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_D = 3  # hash rows
CMS_W = 1024  # counters per row
CMS_TOP = 20


def _cms_col_expr(tok: str, row: int) -> Column:
    # d independent-ish hashes from ONE md5: disjoint 8-hex-digit slices.
    return md5_int(tok, 8, 1 + 8 * row) % CMS_W


def _cms_col_sql(tok: str, row: int) -> str:
    return f"(('0x' || substr(md5({tok}), {1 + 8 * row}, 8))::BIGINT % {CMS_W})"


def text_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, read back for the
    exact top-20 terms: (term, true_count, cms_estimate). The estimate
    over-counts, never under-counts — the CMS guarantee the test pins.

    Scale structure: the sketch build is ONE explode + groupBy(row, col)
    — a map-side-combinable aggregation whose shuffle carries at most
    d×w = 3072 counters per map partition regardless of corpus size;
    that fixed size is the whole point of a sketch at 100 TB (the exact
    top-k here is the oracle's ground truth, only affordable at test
    SF). Lookups broadcast the 3072-row sketch against the probe terms.
    The d hashes are disjoint hex slices of one md5, so both engines
    compute identical positions with one hash call per token.
    """
    toks = token_rows(load_documents(spark, sf_dir))
    # r12: hash per DISTINCT token, not per occurrence — the sketch cell
    # for (row, col) is Σ counts of the tokens hashing there, so the
    # per-token count table (which the exact top-k branch needs anyway,
    # and whose agg subtree AQE reuses across both branches) is built
    # first and each token's d positions are computed once. Cell values
    # are the identical integers (Σ_tok cnt = occurrence count).
    tcnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    sketch = (
        tcnt.select(
            "cnt",
            F.posexplode(
                F.array(*[_cms_col_expr("tok", r) for r in range(CMS_D)])
            ).alias("row", "col"),
        )
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    top = (
        tcnt.select("tok", F.col("cnt").alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("tok"))
        .limit(CMS_TOP)
    )
    probes = top.select(
        "tok",
        "true_count",
        F.posexplode(
            F.array(*[_cms_col_expr("tok", r) for r in range(CMS_D)])
        ).alias("row", "col"),
    )
    return (
        F.broadcast(probes)
        .join(sketch, ["row", "col"])
        .groupBy("tok", "true_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            F.col("tok").alias("term"),
            "true_count",
            "cms_estimate",
        )
        .orderBy(F.desc("true_count"), F.asc("term"))
    )


def _cms_sql() -> str:
    pos_union = "\n    UNION ALL\n".join(
        f"    SELECT {r} AS row, {_cms_col_sql('tok', r)} AS col, tok FROM toks"
        for r in range(CMS_D)
    )
    return f"""
WITH toks AS (
  SELECT unnest({TOKENS_SQL}) AS tok FROM documents
),
positions AS (
{pos_union}
),
sketch AS (
  SELECT row, col, COUNT(*) AS cnt FROM positions GROUP BY row, col
),
top AS (
  SELECT tok, COUNT(*) AS true_count FROM toks GROUP BY tok
  ORDER BY true_count DESC, tok LIMIT {CMS_TOP}
),
probe AS (
{pos_union.replace('FROM toks', 'FROM top')}
)
SELECT p.tok AS term, t.true_count, MIN(s.cnt) AS cms_estimate
FROM probe p
JOIN top t USING (tok)
JOIN sketch s USING (row, col)
GROUP BY p.tok, t.true_count
ORDER BY t.true_count DESC, term
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (fixed-point, engine-exact)
# ---------------------------------------------------------------------------

TFIDF_TOP = 3
_TFIDF_SCALE = 1_000_000


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms (keyword extraction) — complements
    ``pipeline.text_topk_terms``, which ranks the CORPUS vocabulary:
    top-3 terms per doc by tf/df ratio (term frequency
    over document frequency — the TF-IDF core without the logarithm,
    whose libm rounding differs across engines; the RANKING a keyword
    extractor needs is preserved because log is monotone in df only —
    here the raw ratio is the score, in fixed-point so it hash-compares).

    Plan: tf is one groupBy(doc, term) shuffle; df one groupBy(term)
    shuffle; the tf⋈df equi-join on term shuffles vocab-sized sides
    (both already aggregated — nothing fact-sized moves twice); the
    final per-doc top-3 is a window over the tf rows. Score =
    tf·10^6 DIV df in BIGINT — truncating division, positive operands,
    identical in both engines. (r12: a localCheckpoint pin on tf was
    tried for the two-consumer branch and REVERTED — AQE reuses the
    identical tf shuffle stage at runtime, so the pin only added
    materialization I/O, 1.64 → 1.77 s in the A/B harness.)
    """
    toks = token_rows(load_documents(spark, sf_dir), "doc_id", alias="term")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df, "term").withColumn(
        "score_fp", F.expr(f"tf * {_TFIDF_SCALE}L DIV df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_fp"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "term", "tf", "df", "score_fp", "rank")
        .orderBy("doc_id", "rank")
    )


TEXT_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT doc_id, term, tf, df, (tf * {_TFIDF_SCALE}) // df AS score_fp
  FROM tf JOIN df USING (term)
),
ranked AS (
  SELECT doc_id, term, tf, df, score_fp,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY score_fp DESC, tf DESC, term
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, score_fp, rank FROM ranked
WHERE rank <= {TFIDF_TOP} ORDER BY doc_id, rank
"""


# ---------------------------------------------------------------------------
# Bigram language-model counts (top next-token per frequent head)
# ---------------------------------------------------------------------------

BIGRAM_HEADS = 10
BIGRAM_TOPNEXT = 3


def text_bigram_topnext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional counts — the top-3 continuations for each of
    the corpus's 10 most frequent tokens (the n-gram LM building block,
    and the co-occurrence shape session-recommenders reuse).

    Bigrams materialize per doc as an array transform (no position
    self-join: ``transform(sequence(...))`` pairs adjacent tokens inside
    the row), so the only shuffles are the two counting aggregations and
    the final per-head top-k window over head-bucket counts. Token
    strings contain no spaces (the tokenizer splits on them), so the
    'head next' encoding round-trips exactly in both engines."""
    bgs = bigram_docs(spark, sf_dir).select(F.explode(bigrams_expr()).alias("bg"))
    bg_counts = bgs.groupBy("bg").agg(F.count(F.lit(1)).alias("bg_count"))
    toks = token_rows(load_documents(spark, sf_dir))
    heads = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("head_count"))
        .orderBy(F.desc("head_count"), F.asc("tok"))
        .limit(BIGRAM_HEADS)
        .select(F.col("tok").alias("head"), "head_count")
    )
    split = F.split(F.col("bg"), " ", 2)
    scored = bg_counts.select(
        split.getItem(0).alias("head"), split.getItem(1).alias("next"), "bg_count"
    ).join(F.broadcast(heads), "head")
    w = Window.partitionBy("head").orderBy(F.desc("bg_count"), F.asc("next"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BIGRAM_TOPNEXT)
        .select("head", "head_count", "next", "bg_count", "rank")
        .orderBy(F.desc("head_count"), F.asc("head"), F.asc("rank"))
    )


TEXT_BIGRAM_SQL = f"""
WITH tokd AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
bgs AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM tokd WHERE len(toks) >= 2
),
bg_counts AS (SELECT bg, COUNT(*) AS bg_count FROM bgs GROUP BY bg),
toks AS (SELECT unnest({TOKENS_SQL}) AS tok FROM documents),
heads AS (
  SELECT tok AS head, COUNT(*) AS head_count FROM toks GROUP BY tok
  ORDER BY head_count DESC, tok LIMIT {BIGRAM_HEADS}
),
scored AS (
  SELECT split_part(bg, ' ', 1) AS head, split_part(bg, ' ', 2) AS next,
         bg_count
  FROM bg_counts
),
ranked AS (
  SELECT s.head, h.head_count, s.next, s.bg_count,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY s.head ORDER BY s.bg_count DESC, s.next
         ) AS INTEGER) AS rank
  FROM scored s JOIN heads h ON s.head = h.head
)
SELECT head, head_count, next, bg_count, rank FROM ranked
WHERE rank <= {BIGRAM_TOPNEXT}
ORDER BY head_count DESC, head, rank
"""


# ---------------------------------------------------------------------------
# Feature hashing (the HashingTF vectorizer, long format)
# ---------------------------------------------------------------------------

FH_DIM = 64
FH_DOCS = 20  # vectorize the first N docs (bounded demo output)


def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization (HashingTF): map each token to one of
    64 buckets by md5 and count per (doc, bucket) — the fixed-width,
    vocabulary-free featurization step between text and ML at scale (no
    vocab dictionary to build, broadcast, or keep consistent across a
    100 TB corpus). Long (doc_id, bucket, cnt) format IS the sparse
    vector; one explode + one partial-agg shuffle."""
    docs = load_documents(spark, sf_dir).filter(F.col("doc_id") < FH_DOCS)
    toks = token_rows(docs, "doc_id")
    bucket = md5_int("tok", 8) % FH_DIM
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("doc_id", "bucket")
    )


TEXT_FH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
  WHERE doc_id < {FH_DOCS}
)
SELECT doc_id,
       (('0x' || substr(md5(tok), 1, 8))::BIGINT % {FH_DIM}) AS bucket,
       COUNT(*) AS cnt
FROM toks GROUP BY doc_id, bucket ORDER BY doc_id, bucket
"""


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct vocabulary
    size as the corpus accumulates in doc_id (ingest) order, paired with
    the cumulative token count — the curve whose flattening tells a data
    pipeline when new crawls stop adding lexical diversity (the
    token-level sibling of `corpus_ngram_novelty`).

    No running COUNT(DISTINCT): each type contributes at exactly its
    first-seen doc (min doc_id per token — one partial-agg shuffle on
    the token key), per-doc new-type counts are a second small agg, and
    the two cumulative sums are one ordered window over |docs| rows.
    Engine-exact integers throughout."""
    docs = with_tokens(load_documents(spark, sf_dir)).select("doc_id", "toks")
    tok = docs.select("doc_id", F.explode(F.array_distinct("toks")).alias("t"))
    new_types = (
        tok.groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_new_types"))
    )
    per_doc = docs.select("doc_id", F.size("toks").alias("n_toks"))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_doc.join(new_types, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("n_new_types", F.lit(0)).alias("n_new_types"),
        )
        .select(
            "doc_id",
            F.sum("n_toks").over(w).alias("cum_tokens"),
            F.sum("n_new_types").over(w).alias("vocab_size"),
        )
        .orderBy("doc_id")
    )


TEXT_VOCAB_GROWTH_SQL = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
t AS (SELECT DISTINCT doc_id, UNNEST(toks) AS tok FROM tok),
new_types AS (
  SELECT first_doc AS doc_id, COUNT(*) AS n_new_types
  FROM (SELECT tok, MIN(doc_id) AS first_doc FROM t GROUP BY tok)
  GROUP BY first_doc
),
per_doc AS (SELECT doc_id, len(toks) AS n_toks FROM tok)
SELECT p.doc_id,
       CAST(SUM(p.n_toks) OVER w AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(n.n_new_types, 0)) OVER w AS BIGINT) AS vocab_size
FROM per_doc p LEFT JOIN new_types n USING (doc_id)
WINDOW w AS (ORDER BY p.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY p.doc_id
"""


def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise TOTAL-VARIATION distance between every source's unigram
    distribution — the corpus-mix diagnostic behind "is src7 the same
    kind of text as src3?" decisions (domain weighting, dedup scoping,
    contamination triage). TV = ½·Σ|p−q| is used instead of KL/JSD
    because it needs NO logarithm: with integer token counts it reduces
    to exact integer arithmetic, so all 190 pairs hash-verify.

    One shuffle joins the per-source count vectors on the token; the
    mass of tokens MISSING from the other source needs no outer join —
    it is tb·(ta−Σ_common ca) + ta·(tb−Σ_common cb), derived from the
    broadcast totals. Keys are (source_a, source_b): 190 groups, no
    token ever aggregates globally. Fixed-point ppm output; at real
    scale the products move to DECIMAL(38) with the same plan.
    """
    tok = token_rows(load_documents(spark, sf_dir), "source")
    counts = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    totals = tok.groupBy("source").agg(F.count(F.lit(1)).alias("t"))
    a = counts.select(
        F.col("source").alias("source_a"), "tok", F.col("c").alias("ca")
    )
    b = counts.select(
        F.col("source").alias("source_b"), "tok", F.col("c").alias("cb")
    )
    ta = totals.select(F.col("source").alias("source_a"), F.col("t").alias("ta"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("t").alias("tb"))
    common = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .groupBy("source_a", "source_b", "ta", "tb")
        .agg(
            F.sum(F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta"))).alias(
                "num_common"
            ),
            F.sum("ca").alias("ca_common"),
            F.sum("cb").alias("cb_common"),
        )
    )
    grid = (
        ta.crossJoin(tb)
        .filter(F.col("source_a") < F.col("source_b"))
        .join(common.drop("ta", "tb"), ["source_a", "source_b"], "left")
        .na.fill(0, ["num_common", "ca_common", "cb_common"])
    )
    num = (
        F.col("num_common")
        + F.col("tb") * (F.col("ta") - F.col("ca_common"))
        + F.col("ta") * (F.col("tb") - F.col("cb_common"))
    )
    return (
        grid.select(
            "source_a",
            "source_b",
            (num * 1_000_000).cast("bigint").alias("tv_num_scaled"),
            "ta",
            "tb",
        )
        .select(
            "source_a",
            "source_b",
            F.expr("tv_num_scaled div (2 * ta * tb)").alias("tv_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


TEXT_SOURCE_DIVERGENCE_SQL = f"""
WITH tok AS (
  SELECT source, UNNEST({TOKENS_SQL}) AS tok FROM documents
),
counts AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
totals AS (SELECT source, COUNT(*) AS t FROM tok GROUP BY 1),
common AS (
  SELECT a.source AS source_a, b.source AS source_b,
         ta.t AS ta, tb.t AS tb,
         SUM(ABS(a.c * tb.t - b.c * ta.t)) AS num_common,
         SUM(a.c) AS ca_common, SUM(b.c) AS cb_common
  FROM counts a
  JOIN counts b ON a.tok = b.tok AND a.source < b.source
  JOIN totals ta ON ta.source = a.source
  JOIN totals tb ON tb.source = b.source
  GROUP BY 1, 2, 3, 4
),
grid AS (
  SELECT ta.source AS source_a, tb.source AS source_b, ta.t AS ta, tb.t AS tb,
         COALESCE(num_common, 0) AS num_common,
         COALESCE(ca_common, 0) AS ca_common,
         COALESCE(cb_common, 0) AS cb_common
  FROM totals ta
  JOIN totals tb ON ta.source < tb.source
  LEFT JOIN common ON common.source_a = ta.source AND common.source_b = tb.source
)
SELECT source_a, source_b,
       CAST((num_common + tb * (ta - ca_common) + ta * (tb - cb_common))
            * 1000000 AS BIGINT) // (2 * ta * tb) AS tv_ppm
FROM grid ORDER BY source_a, source_b
"""


RAKE_MAX_PHRASE = 4
RAKE_TOP = 25


def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, public): candidate
    phrases are maximal stopword-free token runs; each word scores
    degree/frequency (degree = Σ length of phrases containing the word);
    a phrase scores the sum of its word scores. Top phrases win.

    The phrase split is the gaps-and-islands idiom keyed by doc —
    ``pos − row_number()`` over non-stopword tokens — so candidate
    extraction is ONE window pass partitioned by doc_id, then phrase and
    word statistics are two partial aggregations (phrase text / word).
    No token aggregates globally except the |vocab|-row word-score
    table, and scores stay engine-exact: degree and frequency are
    integers, each word score is one correctly-rounded double division,
    and a phrase folds its word scores in sorted order (same sequential
    fold both engines). Phrases longer than {RAKE_MAX_PHRASE} are
    dropped — the standard guard against run-on candidates and the
    bound that keeps per-phrase work O(1).
    """
    docs = with_tokens(load_documents(spark, sf_dir))
    tok = docs.select("doc_id", F.posexplode("toks").alias("pos", "w"))
    nonstop = tok.filter(~F.col("w").isin(*EN_STOPWORDS))
    wrun = Window.partitionBy("doc_id").orderBy("pos")
    runs = nonstop.withColumn(
        "run", F.col("pos") - F.row_number().over(wrun)
    )
    phrases = (
        runs.groupBy("doc_id", "run")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ).alias("ws")
        )
        .filter(F.size("ws") <= RAKE_MAX_PHRASE)
        .select(F.concat_ws(" ", "ws").alias("phrase"), "ws")
    )
    occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occ"), F.first("ws").alias("ws")
    )
    wstats = (
        phrases.select(F.explode("ws").alias("w"), F.size("ws").alias("plen"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
        .select(
            "w", (F.col("deg").cast("double") / F.col("freq")).alias("wscore")
        )
    )
    scored = (
        occ.select("phrase", "n_occ", F.explode("ws").alias("w"))
        .join(wstats, "w")
        .groupBy("phrase", "n_occ")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("w", "wscore"))),
                F.lit(0.0),
                lambda acc, s: acc + s["wscore"],
            ).alias("raw"),
        )
        .select("phrase", "n_occ", F.round("raw", 6).alias("score"))
    )
    # r13 (guide §2.4): rank-then-filter ran a row_number window over
    # the WHOLE phrase table — a single-partition global sort.
    # orderBy().limit() is a TakeOrdered (per-partition top-k, merged
    # on the driver), so only RAKE_TOP rows ever sort globally; the
    # rank column is then a window over those {RAKE_TOP} rows. Same
    # ordering, same rows, same ranks.
    wtop = Window.orderBy(F.desc("score"), F.asc("phrase"))
    return (
        scored.orderBy(F.desc("score"), F.asc("phrase"))
        .limit(RAKE_TOP)
        .withColumn("rank", F.row_number().over(wtop))
        .select("rank", "phrase", "n_occ", "score")
        .orderBy("rank")
    )


TEXT_RAKE_SQL = f"""
WITH tokd AS (
  SELECT doc_id,
         UNNEST(list_transform({TOKENS_SQL},
                               (x, i) -> {{'pos': i, 'w': x}})) AS t
  FROM documents
),
tok AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM tokd),
nonstop AS (
  SELECT doc_id, pos, w,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS run
  FROM tok WHERE w NOT IN ({_STOP_SQL})
),
phrases AS (
  SELECT array_to_string(list(w ORDER BY pos), ' ') AS phrase,
         list(w ORDER BY pos) AS ws
  FROM nonstop GROUP BY doc_id, run
  HAVING len(list(w ORDER BY pos)) <= {RAKE_MAX_PHRASE}
),
occ AS (
  SELECT phrase, COUNT(*) AS n_occ, MIN(ws) AS ws FROM phrases GROUP BY phrase
),
wstats AS (
  SELECT w, CAST(SUM(plen) AS DOUBLE) / COUNT(*) AS wscore
  FROM (SELECT UNNEST(ws) AS w, len(ws) AS plen FROM phrases)
  GROUP BY w
),
scored AS (
  SELECT phrase, n_occ,
         round(list_sum(list_transform(
           list({{'w': pw.w, 'wscore': wscore}} ORDER BY pw.w, wscore),
           s -> s.wscore)), 6) AS score
  FROM (SELECT phrase, n_occ, UNNEST(ws) AS w FROM occ) pw
  JOIN wstats USING (w)
  GROUP BY phrase, n_occ
)
SELECT rank, phrase, n_occ, score FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, phrase) AS INTEGER)
              AS rank
  FROM scored
) WHERE rank <= {RAKE_TOP}
ORDER BY rank
"""


def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: regex-BPE pieces per whitespace
    word — the standard multilingual tokenizer-cost metric (a language
    whose words shatter into many pieces pays proportionally more
    sequence length per word of content; tokenizer-training reports
    track exactly this ratio per language).

    One scan computes both token counts as array expressions; the
    per-lang rollup is a |langs|-key partial agg; fertility is integer
    fixed-point (pieces·10⁶ div words). Also reports mean piece counts
    per doc — integer div — so regressions in either tokenizer show up.
    """
    per_doc = load_documents(spark, sf_dir).select(
        "lang",
        F.size(tokens_expr()).alias("n_words"),
        F.size(bpe_pieces()).alias("n_pieces"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("words"),
            F.sum("n_pieces").alias("pieces"),
        )
        .select(
            "lang",
            "n_docs",
            "words",
            "pieces",
            # NULL, as in DuckDB, for a language of only zero-token docs
            F.expr("pieces * 1000000 div nullif(words, 0)").alias("fertility_ppm"),
            F.expr("pieces div n_docs").alias("mean_pieces_per_doc"),
        )
        .orderBy("lang")
    )


CORPUS_FERTILITY_SQL = rf"""
WITH per_doc AS (
  SELECT lang,
         len({TOKENS_SQL}) AS n_words,
         len(regexp_extract_all(regexp_replace(lower(text), '\s+', ' ', 'g'),
                                '{BPE_PATTERN}')) AS n_pieces
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS words,
       CAST(SUM(n_pieces) AS BIGINT) AS pieces,
       CAST(SUM(n_pieces) AS BIGINT) * 1000000 // CAST(SUM(n_words) AS BIGINT)
         AS fertility_ppm,
       CAST(SUM(n_pieces) AS BIGINT) // COUNT(*) AS mean_pieces_per_doc
FROM per_doc GROUP BY lang ORDER BY lang
"""


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility under the LEARNED merge table, per predicted
    language — the published data-mixing diagnostic (Rust et al. 2021:
    fertility = subword units per word) that decides per-language token
    budgets in multilingual corpora. Where corpus_tokenizer_fertility
    measures the fixed regex pre-tokenizer against LABELED languages,
    this applies one round of the corpus's own learned BPE merges
    (``text_bpe_pair_merges`` — the top-{BPE_TOP} adjacent character
    pairs) to every word and reports, per ``text_langid``-PREDICTED
    language, tokens-per-word, chars-per-token and bytes-per-token, all
    as truncating integer ppm.

    Merge application is the standard single BPE round: within each word,
    scan adjacent character pairs left→right and merge a pair that is in
    the table when its left character was not consumed by the previous
    merge. Greedy left-to-right over a maximal run of L consecutive
    mergeable positions merges ⌈L/2⌉ of them, so the count is an in-row
    run-length expression — no sequential fold, hence no dependence on
    DuckDB's defective ``list_reduce`` (see ts_holt_linear).

    Plan shape: the merge table is one (pair)-keyed partial-agg shuffle
    (pairs collapse map-side; the exchange carries the ≤26²-entry pair
    vocabulary, not the character stream) collected as a ≤{BPE_TOP}-row
    driver literal — the model-state pattern (k-means centroids,
    emb_abtt's direction vector). The scoring pass is then a pure map
    over documents (every metric in-row) into a 2-key language rollup.
    At 100 TB: one bounded-vocabulary aggregate + one map pass — the
    same shape the k-means scorer has."""
    merges = [
        r.pair for r in text_bpe_pair_merges(spark, sf_dir).collect()
    ]
    # Empty-merges guard: a corpus with no >=2-char words yields zero
    # merge rules; a bare array() literal would be array<null> and make
    # array_contains error where DuckDB's NULL list falls to ELSE 0 —
    # type the empty literal so both engines mark nothing mergeable.
    mset = (
        "array(" + ",".join("'" + p.replace("'", "\\'") + "'" for p in merges) + ")"
        if merges
        else "CAST(array() AS ARRAY<STRING>)"
    )
    docs = with_tokens(load_documents(spark, sf_dir)).filter(
        F.size("toks") >= 1
    )
    # 0/1 mergeable-position arrays, one per word (empty for 1-char words —
    # sequence(1, 0) would DESCEND in Spark, hence the length guard).
    base = docs.select(
        "toks",
        langid_expr().alias("lang_pred"),
        F.expr(
            f"transform(toks, w -> CASE WHEN length(w) >= 2 THEN"
            f" transform({CHAR_PAIRS_SQL},"
            f"  p -> CASE WHEN array_contains({mset}, p) THEN 1 ELSE 0 END)"
            f" ELSE CAST(array() AS ARRAY<INT>) END)"
        ).alias("ms"),
    )
    # tokens per word = chars − merges; merges per word = Σ over maximal
    # runs of consecutive mergeable positions of (run_len + 1) div 2.
    nm = (
        "CASE WHEN size(m) = 0 THEN CAST(0 AS BIGINT)"
        " ELSE aggregate(sequence(1, size(m)), CAST(0 AS BIGINT),"
        "  (a, j) -> a + CASE WHEN element_at(m, j) = 1"
        "   AND (j = 1 OR element_at(m, j - 1) = 0)"
        "  THEN CAST(((CASE WHEN array_position("
        "      slice(m, j, size(m) - j + 1), 0) = 0"
        "    THEN size(m) + 1"
        "    ELSE j - 1 + CAST(array_position("
        "      slice(m, j, size(m) - j + 1), 0) AS INT) END)"
        "    - j + 1) div 2 AS BIGINT)"
        "  ELSE CAST(0 AS BIGINT) END) END"
    )
    per_doc = base.select(
        "lang_pred",
        F.expr("size(toks)").alias("nw"),
        token_chars().alias("nc"),
        token_chars(F.octet_length).alias("nb"),
        F.expr(
            f"aggregate(zip_with(toks, ms,"
            f" (w, m) -> CAST(length(w) AS BIGINT) - ({nm})),"
            f" CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("nt"),
    )
    return (
        per_doc.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("words"),
            F.sum("nt").alias("tokens"),
            F.sum("nc").alias("chars"),
            F.sum("nb").alias("bytes_total"),
        )
        .select(
            "lang_pred",
            "n_docs",
            "words",
            "tokens",
            "chars",
            "bytes_total",
            F.expr("tokens * 1000000 div words").alias("fertility_ppm"),
            F.expr("chars * 1000000 div tokens").alias("chars_per_token_ppm"),
            F.expr("bytes_total * 1000000 div tokens").alias(
                "bytes_per_token_ppm"
            ),
        )
        .orderBy("lang_pred")
    )


def _tokenizer_fertility_sql() -> str:
    nm = (
        "CASE WHEN len(z[2]) = 0 THEN 0"
        " ELSE COALESCE(list_sum(list_transform(range(1, len(z[2]) + 1),"
        "  j -> CASE WHEN z[2][j] = 1 AND (j = 1 OR z[2][j - 1] = 0)"
        "  THEN ((CASE WHEN COALESCE(list_position(z[2][j:], 0), 0) = 0"
        "    THEN len(z[2]) + 1"
        "    ELSE j - 1 + list_position(z[2][j:], 0) END)"
        "    - j + 1) // 2"
        "  ELSE 0 END)), 0) END"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
docs AS (SELECT * FROM tok WHERE len(toks) >= 1),
merges AS (
  SELECT pair FROM (
    SELECT substr(w, i, 2) AS pair
    FROM (SELECT unnest(toks) AS w FROM docs) t,
         LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) g
  ) WHERE length(pair) = 2
  GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT {BPE_TOP}
),
mset AS (SELECT list(pair) AS msel FROM merges),
base AS (
  SELECT toks,
         CASE WHEN len(list_filter(toks, t -> t IN ({_STOP_SQL}))) * 20
              >= len(toks) THEN 'en' ELSE 'other' END AS lang_pred,
         list_transform(toks, w -> CASE WHEN length(w) >= 2 THEN
           list_transform(range(1, length(w)),
             j -> CASE WHEN list_contains(msel, substr(w, j, 2))
                  THEN 1 ELSE 0 END)
           ELSE [] END) AS ms
  FROM docs, mset
),
per_doc AS (
  SELECT lang_pred,
         len(toks) AS nw,
         CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS nc,
         CAST(list_sum(list_transform(toks, w -> strlen(w))) AS BIGINT) AS nb,
         CAST(list_sum(list_transform(list_zip(toks, ms),
              z -> length(z[1]) - ({nm}))) AS BIGINT) AS nt
  FROM base
)
SELECT lang_pred, COUNT(*) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS words,
       CAST(SUM(nt) AS BIGINT) AS tokens,
       CAST(SUM(nc) AS BIGINT) AS chars,
       CAST(SUM(nb) AS BIGINT) AS bytes_total,
       CAST(SUM(nt) AS BIGINT) * 1000000 // CAST(SUM(nw) AS BIGINT)
         AS fertility_ppm,
       CAST(SUM(nc) AS BIGINT) * 1000000 // CAST(SUM(nt) AS BIGINT)
         AS chars_per_token_ppm,
       CAST(SUM(nb) AS BIGINT) * 1000000 // CAST(SUM(nt) AS BIGINT)
         AS bytes_per_token_ppm
FROM per_doc GROUP BY lang_pred ORDER BY lang_pred
"""


TEXT_TOKENIZER_FERTILITY_SQL = _tokenizer_fertility_sql()


def corpus_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION as a first-class query: the confusion matrix
    of the stopword-ratio language-ID (``text_langid``) against the
    corpus's labeled language, with per-cell recall — how a pipeline
    owner decides whether the cheap heuristic is good enough before
    spending on a model. One scan + one (label, predicted) partial agg;
    recall is integer fixed-point against broadcast per-label totals.
    """
    docs = with_tokens(load_documents(spark, sf_dir))
    # binarize the label the same way the classifier does: en vs other
    label = F.when(F.col("lang") == "en", F.lit("en")).otherwise(F.lit("other"))
    cells = (
        docs.select(label.alias("labeled"), langid_expr().alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = cells.groupBy("labeled").agg(F.sum("n_docs").alias("n_label"))
    return (
        cells.join(F.broadcast(totals), "labeled")
        .select(
            "labeled",
            "predicted",
            "n_docs",
            F.expr("n_docs * 1000000 div n_label").alias("share_of_label_ppm"),
        )
        .orderBy("labeled", "predicted")
    )


CORPUS_LANGID_CONFUSION_SQL = f"""
WITH tok AS (SELECT doc_id, lang, {TOKENS_SQL} AS toks FROM documents),
r AS (
  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS labeled,
         CASE WHEN CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL})))
                   AS DOUBLE) / len(toks) >= {LANGID_THRESHOLD}
              THEN 'en' ELSE 'other' END AS predicted
  FROM tok
),
cells AS (
  SELECT labeled, predicted, COUNT(*) AS n_docs FROM r GROUP BY 1, 2
),
totals AS (
  SELECT labeled, CAST(SUM(n_docs) AS BIGINT) AS n_label FROM cells GROUP BY 1
)
SELECT c.labeled, predicted, n_docs,
       n_docs * 1000000 // n_label AS share_of_label_ppm
FROM cells c JOIN totals t ON t.labeled = c.labeled
ORDER BY c.labeled, predicted
"""


KN_TOPK = 20  # readout: the K most frequent bigrams with their KN prob


def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman 1999) — the smoothing every production n-gram LM
    uses, and the statistic behind KenLM-style perplexity filtering of
    training corpora. For a seen bigram (w1, w2) with discount
    d = 3/4:

        P_KN(w2 | w1) = (c12 − d)/c1  +  (d·T1/c1) · (C2/T)

    where c1 = Σ_w c(w1, w) (context total), T1 = |{w : c(w1,w) > 0}|
    (continuation types of w1 — the backoff mass), C2 = |{w : c(w,w2)
    > 0}| (contexts that precede w2 — the continuation probability's
    numerator), and T = total distinct bigram types. With d = 3/4 the
    whole expression is one exact rational:

        kn_ppm = 10⁶ · ((4·c12 − 3)·T + 3·T1·C2)  div  (4·c1·T)

    run in DECIMAL(38,0)/HUGEINT — at corpus scale c1·T leaves BIGINT
    — so both engines produce the identical integer. No log, no float.

    Plan: bigrams materialize per doc as an in-row array transform, the
    type/context tables are three partial-agg shuffles over the bigram
    count table (keyed by bigram, w1, w2 respectively — each carries
    types, not tokens), the 1-row T rides a broadcast cross join, and
    only the K most frequent bigrams (TakeOrdered, no global sort) join
    back against the w1/w2 marginals. Readout: top-{KN_TOPK} bigrams by
    count with their exact KN ppm."""
    bgs = bigram_docs(spark, sf_dir).select(
        F.explode(bigrams_expr("struct({a} AS w1, {b} AS w2)")).alias("bg")
    ).select("bg.w1", "bg.w2")
    # localCheckpoint: the bigram-count table feeds FOUR consumers (both
    # marginals, the type total, and the top-K readout) — pin it once
    # instead of re-tokenizing the corpus per consumer. It is the
    # tokenize-reduce output (|distinct bigrams| rows, far smaller than
    # the corpus); at 100 TB the same role is played by writing the
    # count table to a scratch dataset.
    counts = (
        bgs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    left = counts.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("t1")
    )
    right = counts.groupBy("w2").agg(F.count(F.lit(1)).alias("c2_types"))
    total = counts.agg(F.count(F.lit(1)).alias("t_types"))
    top = counts.orderBy(F.desc("c12"), "w1", "w2").limit(KN_TOPK)
    return (
        F.broadcast(top)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            "t1",
            "c2_types",
            F.expr(
                "CAST((CAST(4 * c12 - 3 AS DECIMAL(38,0)) * t_types"
                " + CAST(3 AS DECIMAL(38,0)) * t1 * c2_types) * 1000000"
                " DIV (CAST(4 AS DECIMAL(38,0)) * c1 * t_types) AS BIGINT)"
            ).alias("kn_ppm"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
    )


TEXT_KNESER_NEY_SQL = f"""
WITH tokd AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
),
bgs AS (
  SELECT unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM tokd WHERE len(toks) >= 2
),
counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM bgs GROUP BY 1, 2),
lft AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS t1 FROM counts GROUP BY 1),
rgt AS (SELECT w2, COUNT(*) AS c2_types FROM counts GROUP BY 1),
total AS (SELECT COUNT(*) AS t_types FROM counts),
top AS (
  SELECT w1, w2, c12 FROM counts ORDER BY c12 DESC, w1, w2 LIMIT {KN_TOPK}
)
SELECT top.w1, top.w2, CAST(c12 AS BIGINT) AS c12, CAST(c1 AS BIGINT) AS c1,
       CAST(t1 AS BIGINT) AS t1, CAST(c2_types AS BIGINT) AS c2_types,
       CAST((CAST(4 * c12 - 3 AS HUGEINT) * t_types
             + CAST(3 AS HUGEINT) * t1 * c2_types) * 1000000
            // (CAST(4 AS HUGEINT) * c1 * t_types) AS BIGINT) AS kn_ppm
FROM top
JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN total
ORDER BY c12 DESC, w1, w2
"""


QUERIES = {
    text_kneser_ney_bigram: TEXT_KNESER_NEY_SQL,
    corpus_langid_confusion: CORPUS_LANGID_CONFUSION_SQL,
    corpus_tokenizer_fertility: CORPUS_FERTILITY_SQL,
    text_tokenizer_fertility: TEXT_TOKENIZER_FERTILITY_SQL,
    text_source_divergence: TEXT_SOURCE_DIVERGENCE_SQL,
    text_keyphrase_rake: TEXT_RAKE_SQL,
    text_bigram_topnext: TEXT_BIGRAM_SQL,
    text_vocab_growth: TEXT_VOCAB_GROWTH_SQL,
    text_cooccurrence_pairs: _cooc_sql(),
    text_chunk_windows: TEXT_CHUNK_SQL,
    text_search_and_rank: TEXT_SEARCH_SQL,
    text_bm25_topk: TEXT_BM25_SQL,
    text_bigram_lm_score: TEXT_BIGRAM_LM_SQL,
    text_bpe_pair_merges: TEXT_BPE_PAIRS_SQL,
    text_bpe_multiround: TEXT_BPE_MULTIROUND_SQL,
    text_simpson_diversity: TEXT_SIMPSON_SQL,
    text_chunk_udtf: TEXT_CHUNK_SQL,
    text_feature_hashing: TEXT_FH_SQL,
    text_cms_heavy_hitters: _cms_sql(),
    text_tfidf_topterms: TEXT_TFIDF_SQL,
    text_token_stats: TEXT_TOKEN_STATS_SQL,
    text_token_bpe: TEXT_TOKEN_BPE_SQL,
    text_winnow_fingerprint: _winnow_sql(),
    text_cdc_chunks: _cdc_sql(),
    text_langid: TEXT_LANGID_SQL,
    text_quality: TEXT_QUALITY_SQL,
    text_fingerprint: TEXT_FINGERPRINT_SQL,
}
