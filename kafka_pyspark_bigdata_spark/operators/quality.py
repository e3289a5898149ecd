"""Corpus-quality operators: repetition filtering and PII scrubbing.

Two more LLM-training-data gates on top of operators/text.py's
length/punctuation scoring:

* ``text_repetition`` — the Gopher-style repetition signals (duplicate
  word fraction, most-frequent unigram/bigram share) used to drop
  boilerplate and degenerate generations before training.
* ``text_pii_scrub`` — regex detection + redaction of contact-info
  patterns (emails, phone-shaped numbers), the standard pre-training
  scrub pass.

Both stay engine-exact: counts are integers, ratios are single double
divisions of integers, and redaction is pure regexp_replace — so the
DuckDB oracle hash-verifies values, not just shapes.

The token rules come from ``operators.text``: ``with_tokens``,
``stop_count``, ``token_chars`` (the token-length sum) and the bigram
fluency score (``bigram_docs`` + ``bigram_lm_scores``). A zero-token
document therefore has a NULL token-length sum, so a rule on it (the
mean word length of ``corpus_filter_verdict`` and
``quality_gopher_rules``) is NULL, neither passed nor counted, as in the
oracle. ``gopher_word_rules`` is the one home of Gopher's word-count and
stopword rules, which ``pipeline.corpus_upsampling_epochs`` reuses.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import (
    TOKENS_SQL,
    bigram_docs,
    bigram_lm_scores,
    load_documents,
    sql_list,
    stop_count,
    token_chars,
    with_tokens,
)

# ---------------------------------------------------------------------------
# text_repetition — Gopher-style repetition stats
# ---------------------------------------------------------------------------


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile: duplicate-word fraction plus the
    most frequent unigram and bigram and their share of the document —
    the signals behind the published Gopher/MassiveText repetition
    filters (high top-n-gram share ⇒ boilerplate or looped text).

    Plan shape: the scalar stats are array expressions (scan-bound, no
    shuffle); the top-n-gram argmaxes explode to (doc, token) and run
    count → row_number, i.e. two partial-agg shuffles KEYED BY doc_id —
    token counts never aggregate globally, so no token can become a hot
    key across documents. The deterministic (count DESC, token DESC)
    tiebreak makes the argmax engine-portable."""
    docs = with_tokens(load_documents(spark, sf_dir))
    base = docs.select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        "toks",
    )
    tok = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "w")
    )

    def argmax(counted: DataFrame, token_col: str, n_alias: str) -> DataFrame:
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("n"), F.desc(token_col)
        )
        return (
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", token_col, F.col("n").alias(n_alias))
        )

    uni = argmax(
        tok.groupBy("doc_id", F.col("w").alias("top_unigram")).agg(
            F.count("*").alias("n")
        ),
        "top_unigram",
        "top_unigram_n",
    )
    w_next = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.withColumn("w2", F.lead("w").over(w_next))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w2").alias("top_bigram"))
    )
    bi = argmax(
        bg.groupBy("doc_id", "top_bigram").agg(F.count("*").alias("n")),
        "top_bigram",
        "top_bigram_n",
    )
    return (
        base.drop("toks")
        .join(uni, "doc_id")
        .join(bi, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            (
                (F.col("n_words") - F.col("n_distinct")).cast("double")
                / F.col("n_words")
            ).alias("dup_word_frac"),
            "top_unigram",
            "top_unigram_n",
            (F.col("top_unigram_n").cast("double") / F.col("n_words")).alias(
                "top_unigram_frac"
            ),
            "top_bigram",
            "top_bigram_n",
            (F.col("top_bigram_n").cast("double") / (F.col("n_words") - 1)).alias(
                "top_bigram_frac"
            ),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = f"""
WITH docs AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
base AS (
  SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_words,
         CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct
  FROM docs
),
tok AS (
  SELECT doc_id, UNNEST(toks) AS w,
         UNNEST(generate_series(1, len(toks))) AS pos
  FROM docs
),
uni AS (
  SELECT doc_id, top_unigram, top_unigram_n FROM (
    SELECT doc_id, w AS top_unigram, COUNT(*) AS top_unigram_n,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY COUNT(*) DESC, w DESC) AS rn
    FROM tok GROUP BY doc_id, w
  ) WHERE rn = 1
),
bg AS (
  SELECT doc_id, bigram FROM (
    SELECT doc_id,
           w || ' ' || LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
    FROM tok
  ) WHERE bigram IS NOT NULL
),
bi AS (
  SELECT doc_id, top_bigram, top_bigram_n FROM (
    SELECT doc_id, bigram AS top_bigram, COUNT(*) AS top_bigram_n,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY COUNT(*) DESC, bigram DESC) AS rn
    FROM bg GROUP BY doc_id, bigram
  ) WHERE rn = 1
)
SELECT base.doc_id, n_words, n_distinct,
       CAST(n_words - n_distinct AS DOUBLE) / n_words AS dup_word_frac,
       top_unigram, top_unigram_n,
       CAST(top_unigram_n AS DOUBLE) / n_words AS top_unigram_frac,
       top_bigram, top_bigram_n,
       CAST(top_bigram_n AS DOUBLE) / (n_words - 1) AS top_bigram_frac
FROM base JOIN uni USING (doc_id) JOIN bi USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# text_pii_scrub — regex contact-info detection + redaction
# ---------------------------------------------------------------------------

# RE2/Java-portable patterns: char classes + bounded quantifiers only.
EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+"
PHONE_RE = r"[0-9]{3}-[0-9]{4}"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contact-info scrub: count and redact email / phone-shaped spans.

    The fixture corpus is synthetic word soup with no real PII, so each
    document is prefixed with a DETERMINISTIC synthetic contact header
    (derived from doc_id — same expression in the oracle) purely to give
    the detector true positives; the operator itself — extract counts +
    ordered regexp_replace redaction — is exactly the production scrub
    pass and runs on whatever the column holds. Scan-bound projection,
    no shuffle, no UDFs."""
    docs = load_documents(spark, sf_dir)
    contact = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") * 7919 % 10000).cast("string"), 4, "0"),
        F.lit(" :: "),
        F.col("text"),
    )
    with_contact = docs.select("doc_id", contact.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace("raw", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return with_contact.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(PHONE_RE), 0)).alias("n_phones"),
        F.length(redacted).alias("redacted_len"),
        F.substring(redacted, 1, 72).alias("redacted_head"),
    ).orderBy("doc_id")


TEXT_PII_SQL = f"""
WITH c AS (
  SELECT doc_id,
         'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-'
           || lpad(CAST(doc_id * 7919 % 10000 AS VARCHAR), 4, '0')
           || ' :: ' || text AS raw
  FROM documents
),
r AS (
  SELECT doc_id, raw,
         regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM c
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS INTEGER) AS n_phones,
       CAST(length(redacted) AS INTEGER) AS redacted_len,
       substr(redacted, 1, 72) AS redacted_head
FROM r ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus_filter_verdict — the composite C4/Gopher-style keep/drop gate
# ---------------------------------------------------------------------------

FILTER_MIN_WORDS = 10
FILTER_MAX_WORDS = 1000
FILTER_MAX_DUP_PCT = 50  # duplicate-word fraction cap, percent
FILTER_MIN_AVG_LEN = 2  # mean token length band
FILTER_MAX_AVG_LEN = 12


def corpus_filter_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite keep/drop GATE a C4/Gopher-style cleaning pass
    actually applies — one row per document with each rule's verdict and
    the conjunction, so downstream can both filter (keep) and audit
    (which rule fired, per source). Rules: word-count band, language
    allow-list, duplicate-word cap, mean-token-length band.

    Everything is a scan-bound expression over the token array — no
    shuffle at all until a consumer aggregates — and every comparison is
    integer cross-multiplied (dup% and mean length never divide), so the
    verdicts are engine-exact booleans."""
    docs = with_tokens(load_documents(spark, sf_dir))
    n = F.size("toks")
    n_dist = F.size(F.array_distinct("toks"))
    sum_len = token_chars()
    r_len = (n >= FILTER_MIN_WORDS) & (n <= FILTER_MAX_WORDS)
    r_lang = F.col("lang") == "en"
    r_dup = (n - n_dist) * 100 <= F.lit(FILTER_MAX_DUP_PCT) * n
    r_avg = (sum_len >= FILTER_MIN_AVG_LEN * n) & (
        sum_len <= FILTER_MAX_AVG_LEN * n
    )
    return docs.select(
        "doc_id",
        "source",
        r_len.alias("pass_length"),
        r_lang.alias("pass_lang"),
        r_dup.alias("pass_dup"),
        r_avg.alias("pass_avg_len"),
        (r_len & r_lang & r_dup & r_avg).alias("keep"),
    ).orderBy("doc_id")


CORPUS_FILTER_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, lang, {TOKENS_SQL} AS toks FROM documents
),
m AS (
  SELECT doc_id, source, lang,
         len(toks) AS n,
         len(list_distinct(toks)) AS n_dist,
         list_sum(list_transform(toks, t -> length(t))) AS sum_len
  FROM tok
)
SELECT doc_id, source,
       (n >= {FILTER_MIN_WORDS} AND n <= {FILTER_MAX_WORDS}) AS pass_length,
       (lang = 'en') AS pass_lang,
       ((n - n_dist) * 100 <= {FILTER_MAX_DUP_PCT} * n) AS pass_dup,
       (sum_len >= {FILTER_MIN_AVG_LEN} * n
        AND sum_len <= {FILTER_MAX_AVG_LEN} * n) AS pass_avg_len,
       ((n >= {FILTER_MIN_WORDS} AND n <= {FILTER_MAX_WORDS})
        AND lang = 'en'
        AND (n - n_dist) * 100 <= {FILTER_MAX_DUP_PCT} * n
        AND sum_len >= {FILTER_MIN_AVG_LEN} * n
        AND sum_len <= {FILTER_MAX_AVG_LEN} * n) AS keep
FROM m ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus_quality_floor — per-language percentile floor filter
# ---------------------------------------------------------------------------


def corpus_quality_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language P10 length floor: within each language, find the
    10th-percentile document length and report how many documents a
    "drop the shortest decile" gate would keep/remove.

    Percentile gates relative to a group (language, source, domain) are
    how production corpus filters are actually tuned — absolute
    thresholds misfire across languages with different script densities
    (cf. the per-language thresholds in the published CCNet/ROOTS
    pipelines). The percentile is INTEGER-EXACT: the k-th smallest value
    with k = ceil(n/10) = (n+9) div 10, selected by row_number with a
    deterministic (n_chars, doc_id) tiebreak — no interpolation, so both
    engines agree bit-wise (the same trick as q_exact_median).

    Scale shape: one window pass keyed by lang produces a THRESHOLD
    TABLE of |langs| rows; the gate itself is a broadcast join of that
    tiny table back to the corpus — the full data is never re-shuffled.
    The per-lang window sort is the only big movement, and it is keyed
    by the group column, exactly how a 1000-executor run wants it
    (skewed langs split by AQE).
    """
    docs = load_documents(spark, sf_dir).select("doc_id", "lang", "n_chars")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.withColumn("rk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("lang"))
    )
    thr = ranked.filter(F.col("rk") == F.expr("(n + 9) div 10")).select(
        "lang", F.col("n_chars").alias("floor_chars")
    )
    return (
        docs.join(F.broadcast(thr), "lang")
        .groupBy("lang", "floor_chars")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_chars") >= F.col("floor_chars")).cast("int")).alias(
                "n_kept"
            ),
            F.sum((F.col("n_chars") < F.col("floor_chars")).cast("int")).alias(
                "n_dropped"
            ),
        )
        .orderBy("lang")
    )


CORPUS_QUALITY_FLOOR_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
thr AS (
  SELECT lang, n_chars AS floor_chars FROM ranked WHERE rk = (n + 9) // 10
)
SELECT d.lang, floor_chars,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN d.n_chars >= floor_chars THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN d.n_chars < floor_chars THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM documents d JOIN thr USING (lang)
GROUP BY 1, 2 ORDER BY lang
"""


# ---------------------------------------------------------------------------
# quality_gopher_rules — the published Gopher/MassiveText document filters
# ---------------------------------------------------------------------------

# Rae et al. 2021 ("Scaling Language Models: ... Gopher"), Appendix A1.1:
# a document must contain >= 2 of these 8 English function words.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_STOP_SQL = sql_list(GOPHER_STOPWORDS)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


def gopher_word_rules(nw: Column, ns: Column) -> tuple[Column, Column]:
    """Gopher's word-count rule (``nw`` words in [50, 100 000]) and
    stopword rule (``ns`` >= 2 GOPHER_STOPWORDS hits)."""
    return nw.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS), ns >= 2


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source scorecard of the five Gopher quality rules (Rae et al.
    2021, Appendix A1.1 — the MassiveText filter battery that became the
    de-facto baseline for pre-training corpus hygiene):

    * ``wordcount``  — word count in [50, 100 000]
    * ``meanwordlen`` — mean word length in [3, 10] characters
    * ``alphafrac``  — >= 80% of words contain an alphabetic character
    * ``symbolratio`` — (# '#' chars + # '...' runs) <= 0.1 x word count
    * ``stopwords``  — >= 2 hits from the 8-word function-word list

    Every rule is evaluated as an INTEGER cross-multiplication (e.g.
    mean-word-length in [3,10] becomes ``3·n_words <= Σlen <= 10·n_words``)
    so there is no float ratio anywhere — counts, per-rule pass totals and
    the ppm pass rate are all integers and hash-exact against the oracle.

    Plan shape: one documents scan; every per-doc signal is an in-row
    array/string expression over the shared ``tokens_expr`` contract (no
    explode, no UDF); then ONE partial-agg shuffle keyed by source. At
    100 TB this is a map-side scan + |sources|-row aggregate — the same
    shape a Gopher-style filter pass has in production, where the verdict
    column would be carried forward instead of aggregated.
    """
    docs = with_tokens(load_documents(spark, sf_dir))
    n_words = F.size("toks")
    sum_len = token_chars()
    n_alpha = F.size(F.filter("toks", lambda t: t.rlike("[a-z]")))
    n_stopw = stop_count(GOPHER_STOPWORDS)
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ellipsis = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / F.lit(3)
    per_doc = docs.select(
        "source",
        n_words.alias("nw"),
        sum_len.alias("sl"),
        n_alpha.alias("na"),
        n_stopw.alias("ns"),
        (n_hash + n_ellipsis.cast("int")).alias("nsym"),
    )
    r_wordcount, r_stopwords = gopher_word_rules(F.col("nw"), F.col("ns"))
    per_doc = per_doc.select(
        "source",
        r_wordcount.alias("r_wordcount"),
        ((F.lit(3) * F.col("nw") <= F.col("sl")) & (F.col("sl") <= F.lit(10) * F.col("nw"))).alias(
            "r_meanwordlen"
        ),
        (F.lit(5) * F.col("na") >= F.lit(4) * F.col("nw")).alias("r_alphafrac"),
        (F.lit(10) * F.col("nsym") <= F.col("nw")).alias("r_symbolratio"),
        r_stopwords.alias("r_stopwords"),
    )
    rules = ("wordcount", "meanwordlen", "alphafrac", "symbolratio", "stopwords")
    pass_all = reduce(lambda a, b: a & b, [F.col(f"r_{r}") for r in rules])
    return (
        per_doc.withColumn("all_ok", pass_all)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[F.sum(F.col(f"r_{r}").cast("bigint")).alias(f"pass_{r}") for r in rules],
            F.sum(pass_all.cast("bigint")).alias("n_pass_all"),
        )
        .withColumn(
            "pass_all_ppm", F.expr("n_pass_all * 1000000 div n_docs")
        )
        .orderBy("source")
    )


QUALITY_GOPHER_SQL = f"""
WITH tok AS (
  SELECT source, text, {TOKENS_SQL} AS toks FROM documents
),
per_doc AS (
  SELECT source,
         len(toks) AS nw,
         list_sum(list_transform(toks, t -> strlen(t))) AS sl,
         len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS na,
         len(list_filter(toks, t -> t IN ({_GOPHER_STOP_SQL}))) AS ns,
         (strlen(text) - strlen(replace(text, '#', '')))
           + CAST((strlen(text) - strlen(replace(text, '...', ''))) / 3 AS INTEGER)
           AS nsym
  FROM tok
),
rules AS (
  SELECT source,
         (nw BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS r_wordcount,
         (3 * nw <= sl AND sl <= 10 * nw) AS r_meanwordlen,
         (5 * na >= 4 * nw) AS r_alphafrac,
         (10 * nsym <= nw) AS r_symbolratio,
         (ns >= 2) AS r_stopwords
  FROM per_doc
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN r_wordcount THEN 1 ELSE 0 END) AS BIGINT) AS pass_wordcount,
       CAST(SUM(CASE WHEN r_meanwordlen THEN 1 ELSE 0 END) AS BIGINT) AS pass_meanwordlen,
       CAST(SUM(CASE WHEN r_alphafrac THEN 1 ELSE 0 END) AS BIGINT) AS pass_alphafrac,
       CAST(SUM(CASE WHEN r_symbolratio THEN 1 ELSE 0 END) AS BIGINT) AS pass_symbolratio,
       CAST(SUM(CASE WHEN r_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopwords,
       CAST(SUM(CASE WHEN r_wordcount AND r_meanwordlen AND r_alphafrac
                      AND r_symbolratio AND r_stopwords THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pass_all,
       CAST(SUM(CASE WHEN r_wordcount AND r_meanwordlen AND r_alphafrac
                      AND r_symbolratio AND r_stopwords THEN 1 ELSE 0 END)
            AS BIGINT) * 1000000
         // COUNT(*) AS pass_all_ppm
FROM rules GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# quality_gopher_repetition — the Gopher repetition-filter battery
# ---------------------------------------------------------------------------

# Rae et al. 2021, Appendix A1.1 — the REPETITION half of the MassiveText
# battery (the 5 quality rules live in quality_gopher_rules above):
# duplicate line / paragraph fraction, duplicate line / paragraph CHARACTER
# fraction, top 2/3/4-gram character fraction, duplicated 5- and 10-gram
# character fraction. Thresholds are the published maxima, held as ppm
# integers so the keep verdict is pure integer comparison.
GOPHER_REP_MAX_PPM = {
    "dup_line_ppm": 300_000,        # duplicate-line fraction <= 0.30
    "dup_para_ppm": 300_000,        # duplicate-paragraph fraction <= 0.30
    "dup_line_char_ppm": 200_000,   # chars in duplicate lines <= 0.20
    "dup_para_char_ppm": 200_000,   # chars in duplicate paragraphs <= 0.20
    "top2_char_ppm": 200_000,       # top 2-gram char share <= 0.20
    "top3_char_ppm": 180_000,       # top 3-gram char share <= 0.18
    "top4_char_ppm": 160_000,       # top 4-gram char share <= 0.16
    "dup5_char_ppm": 150_000,       # chars in duplicated 5-grams <= 0.15
    "dup10_char_ppm": 100_000,      # chars in duplicated 10-grams <= 0.10
}
GREP_LINE = 5    # tokens per synthetic "line"
GREP_PARA = 10   # tokens per synthetic "paragraph"
GREP_TOP_NS = (2, 3, 4)
GREP_DUP_NS = (5, 10)


def quality_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher REPETITION filter battery (Rae et al. 2021, Appendix
    A1.1 — the half that quality_gopher_rules does not cover): per
    document, the duplicate line / paragraph fraction, the duplicate
    line / paragraph character fraction, the share of characters claimed
    by the single most frequent 2/3/4-gram, and the fraction of
    characters covered by ANY duplicated 5- and 10-gram — the filters
    every published pretraining pipeline (MassiveText, RefinedWeb,
    FineWeb) runs to drop looped generations and boilerplate.

    Fixture adaptation (same precedent as text_pii_scrub's synthetic
    contact header): the word-soup corpus has no newlines and almost no
    natural long-range repeats, so "lines" are consecutive 5-token
    chunks, "paragraphs" consecutive 10-token chunks, and every 4th
    document is DETERMINISTICALLY prefixed with a copy of its own first
    10 tokens (doc_id % 4 = 0; identical expression in the oracle) —
    simulating the looped-generation pathology the battery exists to
    catch, chunk-aligned so line/paragraph duplicates actually occur.
    Character fractions are over token characters (separators excluded).

    Exactness: every metric is an integer ppm (counts x 10^6 div totals,
    both engines truncating toward zero); the per-doc keep verdict
    compares those integers against the published thresholds held in
    GOPHER_REP_MAX_PPM. No floats anywhere.

    Plan shape: one documents scan. The line/paragraph metrics never
    leave the row: equal chunk strings have equal character counts, so
    the duplicate-char sum is a sorted-adjacency fold over the in-row
    chunk array (array_sort + element_at compare — no explode, no
    window, no shuffle). The duplicated-gram coverage half (widths
    5/10) ALSO stays in the row (r13): its start lists never read the
    gram string, so duplicates are neighbor-equal entries of a sorted
    in-row (xxhash64(gram), start) array and the covered-character sum
    is an in-row fold over the token-length array — the dup_spans
    islands pattern without its shuffle, because Gopher coverage only
    needs the char SUM, not the spans. Only the top-share half
    shuffles — exactly TWO doc-keyed exchanges carrying nothing but
    the 2/3/4-gram count rows whose (desc c, desc gram) tie-break
    genuinely needs the string: the (doc, width, gram) count partial
    agg, then ONE groupBy(doc_id) folding the per-width top claims
    (max(struct(c, gram)) — the same ordering the original row_number
    window used), followed by a single doc-keyed join onto the in-row
    stats. No key can run hot across documents and the query scales
    with corpus size, not vocabulary.
    """
    # Zero-token guard: an empty doc would make Spark's sequence(0, k-1)
    # descend ([0,-1] for k=0) while DuckDB's range(0) is empty, and the
    # ppm divisors (line_n / total_chars) would hit zero — filter such docs
    # out in BOTH engines (the oracle mirrors with len(toks0) >= 1).
    docs = (
        with_tokens(load_documents(spark, sf_dir))
        .select("doc_id", "toks")
        .filter(F.size("toks") >= 1)
    )
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.slice("toks", 1, GREP_PARA), F.col("toks")),
        )
        .otherwise(F.col("toks"))
        .alias("toks"),
    )
    base = aug.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n_toks"),
        token_chars().alias("total_chars"),
    # base feeds the chunk frame and the gram frame — pin it so the
    # tokenize tree derives once (r12: the coverage join consumer is
    # gone; toks now rides through the chunk frame instead).
    ).localCheckpoint(eager=False)

    def chunk_sorted(width: int):
        # sorted array of the doc's consecutive width-token chunk strings
        k = F.expr(f"(n_toks + {width - 1}) div {width}")
        return F.array_sort(
            F.transform(
                F.sequence(F.lit(0), (k - 1).cast("int")),
                lambda i: F.array_join(
                    F.slice("toks", (i * width + 1).cast("int"), width), " "
                ),
            )
        )

    def chunk_stats(prefix: str):
        # duplicate occurrences sit adjacent after the sort; equal chunk
        # strings have equal char counts, so dup chars = Σ chars of each
        # element equal to its left neighbour (chars = len minus spaces)
        col = f"_{prefix}_sorted"
        n = F.size(col)
        dchars = F.when(
            n >= 2,
            F.aggregate(
                F.transform(
                    F.sequence(F.lit(2), n),
                    lambda i: F.when(
                        F.element_at(F.col(col), i)
                        == F.element_at(F.col(col), i - 1),
                        F.length(
                            F.replace(
                                F.element_at(F.col(col), i), F.lit(" "), F.lit("")
                            )
                        ).cast("bigint"),
                    ).otherwise(F.lit(0).cast("bigint")),
                ),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ),
        ).otherwise(F.lit(0).cast("bigint"))
        return [
            n.alias(f"{prefix}_n"),
            F.size(F.array_distinct(F.col(col))).alias(f"{prefix}_nd"),
            dchars.alias(f"{prefix}_dchars"),
        ]

    def dup_sorted(n: int):
        # sorted (xxhash64(gram), start) pairs for a coverage width:
        # equal hashes sit adjacent after the sort, and BIGINT struct
        # comparisons are cheap where the gram-string sorts of the
        # rejected full in-row variant were not (r13 A/B: full-string
        # in-row 4.64 s vs 2.5-3.0 s — numbers in OPTIMIZATION_r13.md)
        return F.when(
            F.col("n_toks") >= n,
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_toks") - n),
                    lambda s: F.struct(
                        F.xxhash64(
                            F.array_join(
                                F.slice("toks", (s + 1).cast("int"), n), " "
                            )
                        ).alias("h"),
                        s.cast("int").alias("s"),
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<struct<h:bigint,s:int>>"))

    def dup_starts(n: int) -> Column:
        # start positions of every occurrence of a DUPLICATED width-n
        # gram (count >= 2 ⇔ the hash equals the previous or next sorted
        # entry) — the same position multiset the r12 shuffle's
        # flatten(collect_list(ss)) built; order irrelevant (cov_chars
        # only runs exists() over it). Distinct-gram identity via a
        # 64-bit hash is exact up to collisions WITHIN one document's
        # ≤ n_toks grams (P ≈ k²/2⁶⁵ per doc — vanishing; a collision
        # could only overcount coverage chars). F.get is 0-based and
        # NULL out of bounds (never an ANSI error), so prev = get(i-2),
        # next = get(i); a NULL neighbor compares to NULL → the when()
        # drops the entry unless the other side matches.
        sg = F.col(f"_ds{n}")
        return F.when(
            F.size(sg) >= 1,
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.size(sg)),
                    lambda i: F.when(
                        (F.get(sg, i - 2)["h"] == F.element_at(sg, i)["h"])
                        | (F.get(sg, i)["h"] == F.element_at(sg, i)["h"]),
                        F.element_at(sg, i)["s"],
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        ).otherwise(F.array().cast("array<int>")).alias(f"starts{n}")

    chunked = base.select(
        "doc_id",
        "toks",
        "n_toks",
        "total_chars",
        chunk_sorted(GREP_LINE).alias("_line_sorted"),
        chunk_sorted(GREP_PARA).alias("_para_sorted"),
        *[dup_sorted(n).alias(f"_ds{n}") for n in GREP_DUP_NS],
    ).select(
        "doc_id",
        "toks",
        "n_toks",
        "total_chars",
        *chunk_stats("line"),
        *chunk_stats("para"),
        *[dup_starts(n) for n in GREP_DUP_NS],
    )

    def gram_arr(n: int):
        # top-share widths only (r13): the duplicated-gram coverage half
        # moved in-row (dup_starts above — its start lists never read
        # the gram string), so the count shuffle carries ONLY the
        # 2/3/4-gram rows whose (desc c, desc gram) tie-break genuinely
        # needs the string, and the per-occurrence `s` / collect_list
        # state is gone from the aggregation entirely (guide §2.3:
        # shuffle fewer bytes — the 5/10-token grams were the longest
        # strings and the only collected state).
        return F.when(
            F.col("n_toks") >= n,
            F.transform(
                F.sequence(F.lit(0), F.col("n_toks") - n),
                lambda s: F.struct(
                    F.lit(n).alias("gn"),
                    F.array_join(
                        F.slice("toks", (s + 1).cast("int"), n), " "
                    ).alias("gram"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<gn:int,gram:string>>"))

    grams = base.select(
        "doc_id",
        F.explode(
            F.flatten(F.array(*[gram_arr(n) for n in GREP_TOP_NS]))
        ).alias("g"),
    ).select("doc_id", "g.gn", "g.gram")

    # ONE count aggregation serves the three top-share widths; a SINGLE
    # further groupBy(doc_id) folds the per-width top claims
    # (max(struct(c, gram)) — identical ordering to the original
    # row_number over (desc c, desc gram), struct comparison is
    # lexicographic) into one row per document (r12 shape, minus the
    # dup-width rows and start lists r13 moved in-row).
    counts = grams.groupBy("doc_id", "gn", "gram").agg(
        F.count(F.lit(1)).alias("c"),
    )
    gagg = counts.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(F.col("gn") == n, F.struct("c", "gram"))
            ).alias(f"top{n}_m")
            for n in GREP_TOP_NS
        ],
    )

    def cov_chars(n: int) -> Column:
        # chars covered by ANY duplicated n-gram: per token position, its
        # char length if some duplicated gram's span [st, st+n-1] covers
        # it (same fold as before, now in-row over the merged start list;
        # an absent/empty start list sums to 0 — the value the previous
        # left-join + coalesce produced)
        return F.coalesce(
            F.aggregate(
                F.zip_with(
                    F.sequence(F.lit(0), F.col("n_toks") - 1),
                    F.transform("toks", F.length),
                    lambda p, ln: F.when(
                        F.exists(
                            f"starts{n}",
                            lambda st: (p >= st) & (p <= st + n - 1),
                        ),
                        ln,
                    ).otherwise(0),
                ),
                F.lit(0).cast("bigint"),
                lambda a, x: a + x,
            ),
            F.lit(0).cast("bigint"),
        )

    out = (
        chunked
        .join(gagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            "total_chars",
            "line_n",
            "line_nd",
            "line_dchars",
            "para_n",
            "para_nd",
            "para_dchars",
            *[
                (
                    F.col(f"top{n}_m.c")
                    * (F.length(F.col(f"top{n}_m.gram")) - (n - 1))
                ).alias(f"top{n}_claim")
                for n in GREP_TOP_NS
            ],
            *[cov_chars(n).alias(f"dup{n}_chars") for n in GREP_DUP_NS],
        )
        .select(
            "doc_id",
            "n_toks",
            "total_chars",
            F.expr("(line_n - line_nd) * 1000000 div line_n").alias("dup_line_ppm"),
            F.expr("line_dchars * 1000000 div total_chars").alias(
                "dup_line_char_ppm"
            ),
            F.expr("(para_n - para_nd) * 1000000 div para_n").alias("dup_para_ppm"),
            F.expr("para_dchars * 1000000 div total_chars").alias(
                "dup_para_char_ppm"
            ),
            # The claim counts each occurrence's FULL span, so overlapping
            # self-repeats (e.g. "x x x" for the 2-gram "x x") can push it
            # past total_chars — cap it so the ppm invariant [0, 1e6] holds
            # on any data (mirrored with LEAST in the oracle).
            *[
                F.expr(
                    f"least(coalesce(top{n}_claim, 0), total_chars)"
                    f" * 1000000 div total_chars"
                ).alias(f"top{n}_char_ppm")
                for n in GREP_TOP_NS
            ],
            *[
                F.expr(
                    f"coalesce(dup{n}_chars, 0) * 1000000 div total_chars"
                ).alias(f"dup{n}_char_ppm")
                for n in GREP_DUP_NS
            ],
        )
    )
    keep = F.when(
        reduce(
            lambda a, b: a & b,
            [F.col(c) <= mx for c, mx in GOPHER_REP_MAX_PPM.items()],
            F.lit(True),
        ),
        1,
    ).otherwise(0)
    return out.withColumn("keep", keep).orderBy("doc_id")


def _gopher_rep_sql() -> str:
    line, para = GREP_LINE, GREP_PARA
    gram_union = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, toks, {n} AS gn, UNNEST(range(n_toks - {n} + 1)) AS s"
        f" FROM base WHERE n_toks >= {n}"
        for n in GREP_TOP_NS + GREP_DUP_NS
    )
    chunk_ctes = []
    for width, prefix in ((line, "line"), (para, "para")):
        chunk_ctes.append(f"""
{prefix}s AS (
  SELECT doc_id, idx,
         array_to_string(toks[idx*{width}+1 : idx*{width}+{width}], ' ') AS cstr,
         CAST(list_sum(list_transform(toks[idx*{width}+1 : idx*{width}+{width}],
              t -> length(t))) AS BIGINT) AS cchars
  FROM (SELECT doc_id, toks,
               UNNEST(range((n_toks + {width - 1}) // {width})) AS idx
        FROM base)
),
{prefix}a AS (
  SELECT doc_id, COUNT(*) AS {prefix}_n,
         COUNT(DISTINCT cstr) AS {prefix}_nd,
         CAST(COALESCE(SUM(CASE WHEN rn >= 2 THEN cchars ELSE 0 END), 0)
              AS BIGINT) AS {prefix}_dchars
  FROM (SELECT doc_id, cstr, cchars,
               ROW_NUMBER() OVER (PARTITION BY doc_id, cstr ORDER BY idx) AS rn
        FROM {prefix}s)
  GROUP BY doc_id
)""")
    top_cols = ",\n         ".join(
        f"MAX(CASE WHEN gn = {n} THEN claim END) AS top{n}_claim"
        for n in GREP_TOP_NS
    )
    cov_cols = ",\n         ".join(
        f"MAX(CASE WHEN gn = {n} THEN cov_chars END) AS dup{n}_chars"
        for n in GREP_DUP_NS
    )
    keep_pred = " AND ".join(
        f"{col} <= {mx}" for col, mx in GOPHER_REP_MAX_PPM.items()
    )
    final_ppm = ",\n       ".join(
        [
            "(line_n - line_nd) * 1000000 // line_n AS dup_line_ppm",
            "line_dchars * 1000000 // total_chars AS dup_line_char_ppm",
            "(para_n - para_nd) * 1000000 // para_n AS dup_para_ppm",
            "para_dchars * 1000000 // total_chars AS dup_para_char_ppm",
        ]
        + [
            f"LEAST(COALESCE(top{n}_claim, 0), total_chars)"
            f" * 1000000 // total_chars AS top{n}_char_ppm"
            for n in GREP_TOP_NS
        ]
        + [
            f"COALESCE(dup{n}_chars, 0) * 1000000 // total_chars"
            f" AS dup{n}_char_ppm"
            for n in GREP_DUP_NS
        ]
    )
    return f"""
WITH docs0 AS (SELECT doc_id, {TOKENS_SQL} AS toks0 FROM documents),
docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN toks0[1:{para}] || toks0 ELSE toks0 END
           AS toks
  FROM docs0
  WHERE len(toks0) >= 1
),
base AS (
  SELECT doc_id, toks, len(toks) AS n_toks,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
           AS total_chars
  FROM docs
),{",".join(chunk_ctes)},
grams AS (
  SELECT doc_id, gn, s,
         array_to_string(toks[s+1 : s+gn], ' ') AS gram
  FROM (
    {gram_union}
  )
),
tops AS (
  SELECT doc_id, {top_cols}
  FROM (
    SELECT doc_id, gn,
           c * (length(gram) - (gn - 1)) AS claim,
           ROW_NUMBER() OVER (PARTITION BY doc_id, gn
                              ORDER BY c DESC, gram DESC) AS rn
    FROM (SELECT doc_id, gn, gram, COUNT(*) AS c FROM grams
          WHERE gn <= {max(GREP_TOP_NS)} GROUP BY doc_id, gn, gram)
  ) WHERE rn = 1 GROUP BY doc_id
),
dupstarts AS (
  SELECT doc_id, gn, list(s) AS starts FROM (
    SELECT doc_id, gn, s,
           COUNT(*) OVER (PARTITION BY doc_id, gn, gram) AS c
    FROM grams WHERE gn >= {min(GREP_DUP_NS)}
  ) WHERE c >= 2 GROUP BY doc_id, gn
),
cov AS (
  SELECT doc_id, {cov_cols}
  FROM (
    SELECT b.doc_id, st.gn,
           CAST(list_sum(list_transform(range(b.n_toks),
                p -> CASE WHEN len(list_filter(st.starts,
                                x -> p >= x AND p <= x + st.gn - 1)) > 0
                          THEN length(b.toks[p+1]) ELSE 0 END))
                AS BIGINT) AS cov_chars
    FROM base b JOIN dupstarts st USING (doc_id)
  ) GROUP BY doc_id
)
SELECT *, CASE WHEN {keep_pred} THEN 1 ELSE 0 END AS keep FROM (
  SELECT b.doc_id, b.n_toks, b.total_chars,
       {final_ppm}
  FROM base b
  JOIN linea USING (doc_id)
  JOIN paraa USING (doc_id)
  LEFT JOIN tops USING (doc_id)
  LEFT JOIN cov USING (doc_id)
) ORDER BY doc_id
"""


QUALITY_GOPHER_REP_SQL = _gopher_rep_sql()


# ---------------------------------------------------------------------------
# quality_fineweb_rules — the FineWeb custom heuristic battery
# ---------------------------------------------------------------------------

# Penedo et al. 2024 ("The FineWeb Datasets"), §3.6: the three custom
# filters FineWeb added on top of the C4/Gopher batteries, plus the Gopher
# bullet-line rule they inherit. Thresholds as ppm integers:
FW_PUNCT_MIN_PPM = 120_000    # keep iff punct-terminated line ratio > 0.12
FW_SHORT_MAX_PPM = 670_000    # keep iff short-line (<30 char) ratio < 0.67
FW_DUPCHAR_MAX_PPM = 100_000  # keep iff duplicated-line char ratio < 0.10
FW_BULLET_MAX_PPM = 900_000   # keep iff bullet-started line ratio <= 0.90
FW_SHORT_CHARS = 30           # a line under 30 characters is "short"


def quality_fineweb_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FineWeb heuristic battery (Penedo et al. 2024, §3.6 — the
    third sibling of quality_gopher_rules / quality_gopher_repetition):
    per document, the fraction of lines ending in terminal punctuation
    (must exceed 0.12), the fraction of lines shorter than 30 characters
    (must stay under 0.67), the fraction of characters sitting in
    duplicated lines (must stay under 0.10 — FineWeb's stricter cousin
    of Gopher's 0.20), and Gopher's bullet-line rule (at most 90% of
    lines may start with a bullet).

    Fixture adaptation (same precedent as quality_gopher_repetition's
    prefix copy): the word-soup corpus has no newlines, punctuation, or
    bullets, so "lines" are consecutive 5-token chunks and line i of
    document d is DETERMINISTICALLY decorated — a terminal '.' iff
    ``i % (1 + d % 12) = 0`` (per-doc punct ratios spanning ~1/12..1,
    straddling the 0.12 threshold) and a '- ' bullet prefix iff
    ``i % 10 < d % 11`` (bullet ratios spanning 0..1, straddling 0.9) —
    with the IDENTICAL integer expressions in the oracle. The rules
    themselves then measure the decorated lines naturally (last-char /
    first-char / length checks), so the rule logic is exactly what runs
    on real text.

    Exactness: all metrics are integer ppm (counts × 10⁶ div totals,
    truncating in both engines); line lengths include separators and
    decorations; the keep verdict is pure integer comparison against
    the published thresholds.

    Plan shape: one documents scan with zero data-keyed shuffles — the
    only exchanges are the fixture's scan-parallelize round-robin and
    the final orderBy's range partitioning; every metric (including
    duplicate-line chars, via the array_sort + adjacent-equal fold from
    the Gopher battery) is an in-row expression over the chunk array.
    The sorted line array is HOISTED to a projected column (``slines``,
    the Gopher battery's ``_line_sorted`` idiom) before the dup-chars
    fold — Spark does not lift loop-invariant subexpressions out of HOF
    lambdas, so an in-lambda ``array_sort`` would re-sort per element
    (O(L²·log L) per document); sorting once per row keeps the fold
    O(L). At 100 TB this is a pure map pass; the verdict column would
    be carried forward rather than collected."""
    w = GREP_LINE
    docs = (
        with_tokens(load_documents(spark, sf_dir))
        .select("doc_id", "toks")
        .filter(F.size("toks") >= 1)
    )
    base = docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, (size(toks) + {w - 1}) div {w} - 1),"
            f" i -> concat("
            f"   CASE WHEN i % 10 < doc_id % 11 THEN '- ' ELSE '' END,"
            f"   array_join(slice(toks, CAST(i * {w} + 1 AS INT), {w}), ' '),"
            f"   CASE WHEN i % (1 + doc_id % 12) = 0 THEN '.' ELSE '' END))"
        ).alias("lines"),
    )
    sorted_ = base.select(
        "doc_id",
        "lines",
        F.expr("array_sort(lines)").alias("slines"),
    )
    m = sorted_.select(
        "doc_id",
        F.expr("size(lines)").alias("n_lines"),
        F.expr(
            "size(filter(lines, l -> right(l, 1) IN ('.', '!', '?', '\"')))"
        ).alias("n_punct"),
        F.expr("size(filter(lines, l -> left(l, 1) IN ('-', '*')))").alias(
            "n_bullet"
        ),
        F.expr(
            f"size(filter(lines, l -> length(l) < {FW_SHORT_CHARS}))"
        ).alias("n_short"),
        F.expr(
            "aggregate(lines, CAST(0 AS BIGINT), (a, l) -> a + length(l))"
        ).alias("total_chars"),
        F.expr(
            "CASE WHEN size(lines) >= 2 THEN aggregate("
            " transform(sequence(2, size(slines)),"
            "  i -> CASE WHEN element_at(slines, i)"
            "             = element_at(slines, i - 1)"
            "        THEN CAST(length(element_at(slines, i))"
            "                  AS BIGINT)"
            "        ELSE CAST(0 AS BIGINT) END),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("dup_chars"),
    )
    out = m.select(
        "doc_id",
        "n_lines",
        F.expr("n_punct * 1000000 div n_lines").alias("punct_line_ppm"),
        F.expr("n_short * 1000000 div n_lines").alias("short_line_ppm"),
        F.expr("n_bullet * 1000000 div n_lines").alias("bullet_line_ppm"),
        F.expr("dup_chars * 1000000 div total_chars").alias("dup_char_ppm"),
    )
    keep = F.when(
        (F.col("punct_line_ppm") > FW_PUNCT_MIN_PPM)
        & (F.col("short_line_ppm") < FW_SHORT_MAX_PPM)
        & (F.col("dup_char_ppm") < FW_DUPCHAR_MAX_PPM)
        & (F.col("bullet_line_ppm") <= FW_BULLET_MAX_PPM),
        1,
    ).otherwise(0)
    return out.withColumn("keep", keep).orderBy("doc_id")


QUALITY_FINEWEB_SQL = f"""
WITH docs AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
  WHERE len({TOKENS_SQL}) >= 1
),
base AS (
  SELECT doc_id,
         list_transform(range((len(toks) + {GREP_LINE - 1}) // {GREP_LINE}),
           i -> concat(
             CASE WHEN i % 10 < doc_id % 11 THEN '- ' ELSE '' END,
             array_to_string(toks[i*{GREP_LINE}+1 : i*{GREP_LINE}+{GREP_LINE}],
                             ' '),
             CASE WHEN i % (1 + doc_id % 12) = 0 THEN '.' ELSE '' END))
           AS lines
  FROM docs
),
sorted_lines AS (
  -- mirrors the Spark-side hoist: sort once per row, not per fold element
  SELECT doc_id, lines, list_sort(lines) AS slines FROM base
),
m AS (
  -- length() = characters (matches Spark length); strlen() would be bytes
  SELECT doc_id,
         len(lines) AS n_lines,
         len(list_filter(lines,
             l -> right(l, 1) IN ('.', '!', '?', '"'))) AS n_punct,
         len(list_filter(lines, l -> left(l, 1) IN ('-', '*'))) AS n_bullet,
         len(list_filter(lines, l -> length(l) < {FW_SHORT_CHARS}))
           AS n_short,
         CAST(list_sum(list_transform(lines, l -> length(l))) AS BIGINT)
           AS total_chars,
         CASE WHEN len(lines) >= 2 THEN
           CAST(COALESCE(list_sum(list_transform(
             range(2, len(slines) + 1),
             i -> CASE WHEN slines[i] = slines[i - 1]
                  THEN length(slines[i]) ELSE 0 END)), 0) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS dup_chars
  FROM sorted_lines
)
SELECT *, CASE WHEN punct_line_ppm > {FW_PUNCT_MIN_PPM}
                AND short_line_ppm < {FW_SHORT_MAX_PPM}
                AND dup_char_ppm < {FW_DUPCHAR_MAX_PPM}
                AND bullet_line_ppm <= {FW_BULLET_MAX_PPM}
           THEN 1 ELSE 0 END AS keep
FROM (
  SELECT doc_id, n_lines,
         n_punct * 1000000 // n_lines AS punct_line_ppm,
         n_short * 1000000 // n_lines AS short_line_ppm,
         n_bullet * 1000000 // n_lines AS bullet_line_ppm,
         dup_chars * 1000000 // total_chars AS dup_char_ppm
  FROM m
) ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# quality_ccnet_buckets — CCNet-style per-language perplexity terciles
# ---------------------------------------------------------------------------


def quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020, public): score
    every document with a language-model fluency proxy, then cut each
    LANGUAGE's documents into score terciles — head (most fluent,
    usually kept), middle (kept for diversity), tail (dropped or
    down-weighted). Per-language cuts are the point: absolute
    perplexity is not comparable across languages, so CCNet buckets
    within each one.

    The score is the corpus bigram-frequency proxy from
    ``text_bigram_lm_score`` (mean corpus frequency of the doc's
    adjacent bigrams, ppm — exact integers, no log sums); documents too
    short to score (< 2 tokens) are excluded, as CCNet excludes
    unscoreable docs. Output: one row per (lang, bucket) with document
    and character totals and the bucket's score range; ntile over the
    deterministic (score DESC, doc_id) order makes the cut
    engine-exact.

    Scale shape: the scoring half is the inverted-LM join (shuffle
    carries tokens, never token²); the tercile cut is ONE window keyed
    by lang — at 100 TB that is a per-language sort of doc-level score
    rows (already aggregated, ~1e9 rows per trillion tokens, not data-
    sized), the same shape CCNet runs with its fasttext LM scores.
    """
    # (r12: localCheckpoint pins on tokd and doc_bgs were tried for the
    # repeated tokenize/explode map trees and REVERTED — materializing
    # the token arrays cost more than re-deriving them: 1.95 → 2.67 s
    # at sf0.1 in the A/B harness.)
    tokd = bigram_docs(spark, sf_dir, "lang", "n_chars")
    scores = bigram_lm_scores(tokd).select(
        "doc_id", F.col("mean_bg_ppm").alias("score_ppm")
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("score_ppm"), F.asc("doc_id")
    )
    bucketed = (
        tokd.select("doc_id", "lang", "n_chars")
        .join(scores, "doc_id")
        .withColumn("tercile", F.ntile(3).over(w))
        .withColumn(
            "bucket",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("tercile"),
            ),
        )
    )
    return (
        bucketed.groupBy("lang", "tercile", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("score_ppm").alias("min_score_ppm"),
            F.max("score_ppm").alias("max_score_ppm"),
        )
        .orderBy("lang", "tercile")
    )


QUALITY_CCNET_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, n_chars, {TOKENS_SQL} AS toks FROM documents
),
tokd AS (SELECT * FROM toks WHERE len(toks) >= 2),
db AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
  FROM tokd, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
),
bc AS (SELECT bg, COUNT(*) AS bg_count FROM db GROUP BY bg),
total AS (SELECT SUM(bg_count) AS total_bg FROM bc),
scores AS (
  SELECT doc_id,
         CAST(CAST(SUM(bg_count) AS HUGEINT) * 1000000
              // (COUNT(*) * ANY_VALUE(total_bg)) AS BIGINT) AS score_ppm
  FROM db JOIN bc USING (bg), total
  GROUP BY doc_id
),
bucketed AS (
  SELECT t.lang, t.n_chars, s.score_ppm,
         NTILE(3) OVER (PARTITION BY t.lang
                        ORDER BY s.score_ppm DESC, t.doc_id) AS tercile
  FROM tokd t JOIN scores s USING (doc_id)
)
SELECT lang, CAST(tercile AS INTEGER) AS tercile,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(score_ppm) AS min_score_ppm,
       MAX(score_ppm) AS max_score_ppm
FROM bucketed GROUP BY lang, tercile ORDER BY lang, tercile
"""


# ---------------------------------------------------------------------------
# text_readability_fk — Flesch-Kincaid readability as fixed-point rationals
# ---------------------------------------------------------------------------

_FK_VOWELS = "('a', 'e', 'i', 'o', 'u', 'y')"


def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring — Flesch Reading Ease (Flesch 1948) and the
    Flesch-Kincaid grade level (Kincaid et al. 1975), the classic
    quality-filter features a curation pipeline computes next to the
    Gopher/FineWeb batteries (readability bands are a standard
    document-quality covariate and a mixing signal for educational
    corpora, cf. FineWeb-Edu's grade-level framing). Both scores are
    pure rationals of three counts — words, sentences, syllables — so
    they are EXACT in fixed point: grade_ppm = 390000·W div S +
    11800000·Y div W − 15590000, ease_ppm = 206835000 − 1015000·W div
    S − 84600000·Y div W (the published coefficients ×10⁶, truncating
    integer division in both engines).

    Fixture adaptation (the quality_fineweb_rules precedent): the
    word-soup corpus has no sentence punctuation, so document d's
    sentence length is the DETERMINISTIC 3 + (d mod 17) tokens
    (sentences = ceil(words / that) — per-doc words-per-sentence spans
    the 3..19 range the grade formula is sensitive to), identical
    integer expression in the oracle. Syllables are counted by the
    standard vowel-group heuristic — a syllable per maximal run of
    [aeiouy], at least one per word — which is exactly what it would
    be on real text.

    Plan shape: one documents scan, all three counts in-row (nested
    HOF over the token array, zero UDFs), one per-source partial agg;
    scores derive from the per-source totals. A pure map pass at
    100 TB."""
    docs = (
        with_tokens(load_documents(spark, sf_dir))
        .filter(F.size("toks") >= 1)
        .select("doc_id", "source", "toks")
    )
    v = _FK_VOWELS
    per_doc = docs.select(
        "source",
        F.expr("CAST(size(toks) AS BIGINT)").alias("w"),
        F.expr(
            "CAST((size(toks) + 2 + doc_id % 17)"
            " div (3 + doc_id % 17) AS BIGINT)"
        ).alias("s"),
        F.expr(
            f"aggregate(toks, CAST(0 AS BIGINT), (a, t) -> a +"
            f" greatest(CAST(1 AS BIGINT), CAST(size(filter("
            f"   sequence(1, length(t)),"
            f"   i -> substring(t, CAST(i AS INT), 1) IN {v}"
            f"        AND (i = 1 OR NOT substring(t, CAST(i - 1 AS INT), 1)"
            f"                        IN {v})))"
            f" AS BIGINT)))"
        ).alias("y"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("words"),
            F.sum("s").alias("sentences"),
            F.sum("y").alias("syllables"),
        )
        .select(
            "source",
            "n_docs",
            "words",
            "sentences",
            "syllables",
            F.expr(
                "390000 * words div sentences"
                " + 11800000 * syllables div words - 15590000"
            ).alias("fk_grade_ppm"),
            F.expr(
                "206835000 - 1015000 * words div sentences"
                " - 84600000 * syllables div words"
            ).alias("fre_ppm"),
        )
        .orderBy("source")
    )


TEXT_READABILITY_SQL = f"""
WITH docs AS (
  SELECT doc_id, source, {TOKENS_SQL} AS toks FROM documents
  WHERE len({TOKENS_SQL}) >= 1
),
per_doc AS (
  SELECT source,
         CAST(len(toks) AS BIGINT) AS w,
         CAST((len(toks) + 2 + doc_id % 17) // (3 + doc_id % 17)
              AS BIGINT) AS s,
         CAST(COALESCE(list_sum(list_transform(toks, t ->
           GREATEST(1, len(list_filter(range(1, length(t) + 1),
             i -> substr(t, i, 1) IN {_FK_VOWELS}
                  AND (i = 1 OR NOT substr(t, i - 1, 1)
                                   IN {_FK_VOWELS})))))), 0)
           AS BIGINT) AS y
  FROM docs
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS words,
       CAST(SUM(s) AS BIGINT) AS sentences,
       CAST(SUM(y) AS BIGINT) AS syllables,
       390000 * CAST(SUM(w) AS BIGINT) // CAST(SUM(s) AS BIGINT)
         + 11800000 * CAST(SUM(y) AS BIGINT) // CAST(SUM(w) AS BIGINT)
         - 15590000 AS fk_grade_ppm,
       206835000
         - 1015000 * CAST(SUM(w) AS BIGINT) // CAST(SUM(s) AS BIGINT)
         - 84600000 * CAST(SUM(y) AS BIGINT) // CAST(SUM(w) AS BIGINT)
         AS fre_ppm
FROM per_doc GROUP BY source ORDER BY source
"""


QUERIES = {
    text_readability_fk: TEXT_READABILITY_SQL,
    corpus_quality_floor: CORPUS_QUALITY_FLOOR_SQL,
    corpus_filter_verdict: CORPUS_FILTER_SQL,
    text_repetition: TEXT_REPETITION_SQL,
    text_pii_scrub: TEXT_PII_SQL,
    quality_gopher_rules: QUALITY_GOPHER_SQL,
    quality_gopher_repetition: QUALITY_GOPHER_REP_SQL,
    quality_fineweb_rules: QUALITY_FINEWEB_SQL,
    quality_ccnet_buckets: QUALITY_CCNET_SQL,
}
