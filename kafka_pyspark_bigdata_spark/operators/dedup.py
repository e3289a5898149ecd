"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup — plus the two graph families built on them:
the near-dup pair graph (clusters, CC, triangles, PageRank, HITS, LPA,
k-hop, HyperBall, modularity, curation readouts) and the lineitem
co-purchase graph (k-core, k-truss, link prediction).

Scale design (the whole point of these ops at 100 TB):

- **exact**: hash-groupBy on an md5 fingerprint — one shuffle of
  (16-byte key, id), the canonical distributed dedup.
- **n-gram Jaccard**: inverted-index self-join (explode shingles, join on
  shingle, count per pair) — candidate pairs are generated only for docs
  that SHARE a shingle, never the n² cross join. Shuffle keys are shingles;
  AQE's skew-join handles hot shingles (a doc-frequency cap is the standard
  extra mitigation, applied identically in the oracle).
- **MinHash+LSH**: per-doc signatures (ONE md5 per shingle, k affine
  transforms of it — the one-hash minhash trick, map-side only), banded
  into b buckets; docs sharing a band bucket become candidates; exact
  Jaccard verifies. Work is O(candidates), not O(n²) — this is the scale
  path for fuzzy dedup.
- **SimHash**: 16-bit fingerprint from token-hash bit votes — map-side
  explode + partial-agg sums; near-dups collide on the fingerprint key.
- **embedding cosine**: exact pairwise at small n (oracle-checkable);
  the LSH-bucketed variant for scale lives in operators/similarity.

Shared building blocks — each contract has one home, and every query
calls it rather than re-spelling it:

- ``_shingles`` loads (doc_id, shingles); ``minhash_sigs`` /
  ``minhash_bands`` make signatures and band keys.
- **Candidate rule** — ``_lsh_candidates``: a pair sharing any band key,
  once, as doc_a < doc_b.
- **Verify rule** — ``_shingle_pairs`` joins both shingle sets onto a
  pair, ``_jaccard`` / ``_n_common`` score it, and ``_verify_jaccard``
  keeps Jaccard >= ``MINHASH_VERIFY_THRESHOLD``; ``_sig_pairs`` /
  ``_n_sig_match`` are the signature-side counterpart for the
  estimator audits.
- **Edge orientation** — ``_undirected`` turns a canonical edge list
  into both directions (``_symmetrize`` canonicalizes first);
  ``_triangles`` is the a<b<c self-join over a canonical list.
- Co-purchase: ``_copurchase_pairs`` / ``_supported_pairs`` build the
  edges, ``_adjacency`` / ``_open_wedges`` the link-prediction wedges.

Helpers return unpinned frames: each query decides where its
``localCheckpoint`` goes and whether it is eager.

Everything is expressed with built-in functions (md5, array ops, explode,
groupBy) — no Python in the hot path — and every operator has a value-exact
DuckDB oracle built from the same md5/tokenization contract.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import cents, md5_int
from ..sources.batch import app_memo, load_table, parallelize_scan
from .text import NORMALIZED_SQL, TOKENS_SQL, normalized_text_expr, with_tokens

# MinHash/LSH parameters: 16 hashes in 4 bands of 4 rows → catches
# Jaccard >= ~0.7 with high probability; verified exactly afterwards.
# The 16 hash functions are affine transforms (a·h + b mod p) of ONE
# 32-bit md5-derived base hash — the standard one-permutation trick: each
# shingle is md5'd once, not once per hash function (16× less hashing in
# the signature pass, the hot loop of the whole dedup pipeline).
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = 4
_MH_P = (1 << 31) - 1  # Mersenne prime; a·h+b stays < 2^63 for h < 2^32
_MH_PARAMS: list[tuple[int, int]] = [
    (int(a), int(b))
    for a, b in zip(
        np.random.RandomState(11).randint(1, _MH_P, NUM_HASHES),
        np.random.RandomState(12).randint(0, _MH_P, NUM_HASHES),
    )
]
MINHASH_VERIFY_THRESHOLD = 0.7
JACCARD_THRESHOLD = 0.8
# Exact rational form of JACCARD_THRESHOLD (t = NUM/DEN). The three PPJoin
# filter expressions in dedup_ngram_jaccard are integer inequalities that
# must all move together if the threshold changes, so they are DERIVED from
# this one pair rather than hardcoding 4/5/9 independently:
#   prefix length:   n - ceil(t*n) + 1, with ceil(t*n) = (NUM*n + DEN-1) div DEN
#   length filter:   NUM*max(na,nb) <= DEN*min(na,nb)          (t*max <= min)
#   position filter: (NUM+DEN)*(1+suffix_min) >= NUM*(na+nb)
#                    (overlap >= t/(1+t)*(na+nb), t/(1+t) = NUM/(NUM+DEN))
JACCARD_NUM, JACCARD_DEN = 4, 5
assert JACCARD_NUM / JACCARD_DEN == JACCARD_THRESHOLD, (
    "JACCARD_NUM/JACCARD_DEN must equal JACCARD_THRESHOLD exactly — the "
    "PPJoin integer filters are derived from the rational form"
)
COSINE_DUP_THRESHOLD = 0.45


# ---------------------------------------------------------------------------
# shared shingling
# ---------------------------------------------------------------------------

def with_shingles(df: DataFrame) -> DataFrame:
    """Distinct word-3-gram shingles; docs with <3 tokens are dropped (no
    shingle support). The scan is re-parallelized first: shingling +
    hashing is the compute-heavy part of every dedup operator.

    The shingle expression must not fail on a shorter document: Catalyst
    may evaluate it inside a Filter ahead of the ``size >= 3`` guard (a
    common subexpression of the predicate), where ``sequence(0, -3)``
    descends and ``toks[0]`` of an empty array is an ANSI error. ``get``
    is NULL out of bounds instead, and identical in bounds."""
    return (
        with_tokens(parallelize_scan(df))
        .filter(F.size("toks") >= 3)
        .withColumn(
            "shingles",
            F.expr(
                "array_distinct(transform(sequence(0, size(toks)-3),"
                " i -> concat_ws(' ', get(toks, i), get(toks, i+1), get(toks, i+2))))"
            ),
        )
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles) of the documents table, unpinned: the input of
    every shingle-set query here, which pins it as its own plan needs."""
    return with_shingles(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "shingles"
    )


def _shingle_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """``pairs`` (doc_a, doc_b) with each side's shingle set joined on as
    sh_a / sh_b — the verify join: candidates are generated elsewhere,
    and only they ever touch a shingle set."""
    def side(doc: str, col: str) -> DataFrame:
        return sh.select(F.col("doc_id").alias(doc), F.col("shingles").alias(col))

    return pairs.join(side("doc_a", "sh_a"), "doc_a").join(side("doc_b", "sh_b"), "doc_b")


def _n_common() -> Column:
    """|sh_a ∩ sh_b| on a ``_shingle_pairs`` row."""
    return F.size(F.array_intersect("sh_a", "sh_b"))


def _jaccard() -> Column:
    """Exact shingle Jaccard of a ``_shingle_pairs`` row, in double:
    n_common / (|sh_a| + |sh_b| - n_common)."""
    n_common = _n_common()
    return n_common.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_common)


SHINGLES_CTE = f"""
tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in range(1, len(t)-1)]) AS shingles
  FROM (SELECT doc_id, toks AS t FROM tok WHERE len(toks) >= 3)
)
"""


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct normalized text,
    with the canonical (minimum) doc_id and the copy count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.md5(F.encode(normalized_text_expr(), "UTF-8")).alias("fp")
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("canonical_doc_id")
    )


DEDUP_EXACT_SQL = f"""
SELECT md5({NORMALIZED_SQL}) AS fp,
       MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY canonical_doc_id
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs with 3-gram-shingle Jaccard >= 0.8, via prefix
    filtering (the PPJoin family).

    A naive inverted-index join emits Σ df² pair rows — quadratic in the
    doc-frequency of hot shingles, which melts down on dense corpora. The
    prefix-filtering lemma fixes it WITHOUT losing exactness: if
    J(A,B) >= t, then the (1-t)|A|+1 globally-rarest shingles of A and the
    (1-t)|B|+1 rarest of B must intersect. So only each doc's short rare
    prefix is indexed; candidates come from the prefix self-join; the full
    shingle sets verify exactly. Prefix length uses pure integer math
    (n - ceil(0.8n) + 1, as (4n+4) div 5) so both engines agree bit-wise.

    r07: PPJoin POSITION filter on top of the length filter. Each join
    row carries the matched shingle's rank (ra, rb) in its doc's sorted
    token order; overlap is bounded by 1 + min(na-ra, nb-rb) (every
    other common token sits in both suffixes), and J >= 0.8 needs
    overlap >= ceil(4(na+nb)/9). EXACT: a qualifying pair's FIRST
    common token in the global (df, s) order lies in both prefixes
    (else the doc has fewer tokens left than the required overlap), and
    for that row the bound >= the true overlap, so the pair always
    survives; integer form (NUM+DEN)*(1+min) >= NUM*(na+nb), with the
    rational (NUM, DEN) = JACCARD_NUM/JACCARD_DEN shared by all three
    filters. Cuts candidate volume before the dedup shuffle and the
    verify joins (r07: 2.84 -> 2.38 s at sf0.1 per BENCH_DETAIL.json;
    r08's lazy checkpoint below: 2.38 -> 2.09 s in the driver's own
    BENCH_r08 artifact, meeting the round-6 <= 2.3 s target; output rows
    identical by construction and re-verified hash-green). The target's
    measurement protocol is ISOLATED fresh-JVM min-of-3 (r10
    re-confirmation: 1.832 s, committed in BENCH_NOTES.md); the number
    inside bench.py's 16-query sentinel context runs ~0.5 s higher from
    that context's own session state and is compared only
    round-over-round, never against this target.
    """
    # localCheckpoint: sh feeds five plan branches (inverted index ×2,
    # prefix, verify ×2) — materialize once instead of recomputing the
    # shingling per branch (Spark does no cross-branch CSE; without the
    # checkpoint the query ran ~5x slower at sf0.1). eager=False (r08):
    # the upfront materialization barrier cost dead time before the
    # candidate pipeline could start; deferring it lets the first consumer
    # stage materialize the blocks in-line (2.38 -> 2.09 s per the
    # committed BENCH_r08/BENCH_DETAIL artifacts — repo convention: perf
    # numbers in docstrings/comments cite committed artifacts only).
    # Content is deterministic from the input text, so WHICH action
    # materializes it cannot change any result — this checkpoint is for
    # reuse, not partition pinning.
    sh = (
        _shingles(spark, sf_dir)
        .withColumn("n_sh", F.size("shingles"))
        .localCheckpoint(eager=False)
    )
    inv = sh.select("doc_id", "n_sh", F.explode("shingles").alias("s"))
    # doc frequency via an unordered window over the shingle key: ONE
    # shuffle of the inverted index instead of the groupBy + join-back
    # pair (same df values, two fewer exchanges).
    with_df = inv.withColumn(
        "df", F.count("*").over(Window.partitionBy("s"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
    # n - ceil(t*n) + 1 with t = JACCARD_NUM/JACCARD_DEN (integer-exact,
    # both engines agree bit-wise)
    prefix_len = (
        F.col("n_sh")
        - F.expr(
            f"({JACCARD_NUM} * n_sh + {JACCARD_DEN - 1}) div {JACCARD_DEN}"
        )
        + F.lit(1)
    )
    prefix = with_df.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= prefix_len
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("na"),
        F.col("rk").alias("ra"),
        "s",
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
        F.col("rk").alias("rb"),
        "s",
    )
    cand = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # PPJoin length filter: J >= t forces t·|A| <= |B| <= |A|/t,
        # i.e. NUM·max(na,nb) <= DEN·min(na,nb) — integer-exact, prunes
        # size-mismatched candidates before the (expensive) verify join.
        .filter(
            (JACCARD_NUM * F.greatest("na", "nb"))
            <= (JACCARD_DEN * F.least("na", "nb"))
        )
        # PPJoin position filter (exact — see docstring): overlap is at
        # most 1 + min(na-ra, nb-rb), and J >= t needs overlap >=
        # t/(1+t)·(na+nb); a true pair's first-common-token row always
        # passes. Integer form (NUM+DEN)·(1+min) >= NUM·(na+nb).
        .filter(
            (JACCARD_NUM + JACCARD_DEN)
            * (1 + F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb")))
            >= JACCARD_NUM * (F.col("na") + F.col("nb"))
        )
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    return (
        _shingle_pairs(cand, sh)
        .select("doc_a", "doc_b", _n_common().alias("n_common"), _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_NGRAM_SQL = f"""
WITH {SHINGLES_CTE},
szs AS (SELECT doc_id, shingles, len(shingles) AS n_sh FROM sh),
inv AS (SELECT doc_id, n_sh, UNNEST(shingles) AS s FROM szs),
with_df AS (
  SELECT inv.doc_id, inv.n_sh, inv.s, d.df
  FROM inv JOIN (SELECT s, COUNT(*) AS df FROM inv GROUP BY s) d USING (s)
),
prefix AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, s) AS rk,
           n_sh - (({JACCARD_NUM} * n_sh + {JACCARD_DEN - 1}) // {JACCARD_DEN}) + 1 AS plen
    FROM with_df
  ) WHERE rk <= plen
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         len(list_intersect(x.shingles, y.shingles)) AS n_common,
         CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
           / (len(x.shingles) + len(y.shingles)
              - len(list_intersect(x.shingles, y.shingles))) AS jaccard
  FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
)
SELECT doc_a, doc_b, CAST(n_common AS INTEGER) AS n_common, jaccard
FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# exact duplicated-span coverage (ExactSubstr-style)
# ---------------------------------------------------------------------------

# Window width in TOKENS: a duplicated run of >= DUP_SPAN_W consecutive
# tokens is detected (the fixture's docs are short; Lee et al. 2022 use
# 50 BPE tokens at corpus scale — same statistic, scaled-down n).
DUP_SPAN_W = 5


def _window_hashes() -> Column:
    """(pos, h) per ``DUP_SPAN_W``-token window of ``toks``: the md5 of the
    window's text, posexploded (a doc needs >= W tokens)."""
    return F.posexplode(
        F.expr(
            f"transform(sequence(0, size(toks) - {DUP_SPAN_W}),"
            f" i -> md5(concat_ws(' ', slice(toks, i + 1, {DUP_SPAN_W}))))"
        )
    ).alias("pos", "h")


def _spans(wins: DataFrame) -> DataFrame:
    """Maximal spans of (doc_id, pos) windows: windows at most W apart
    merge (gaps-and-islands, LAG break + running SUM over one
    doc_id-keyed window). (doc_id, isl_id, s, e, nw): first and last
    token of the span and the windows in it."""
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    isl = wins.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w_doc) <= DUP_SPAN_W, F.lit(0))
        .otherwise(F.lit(1)),
    ).withColumn(
        "isl_id",
        F.sum("brk").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", "isl_id").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(DUP_SPAN_W - 1)).alias("e"),
        F.count(F.lit(1)).alias("nw"),
    )


def dedup_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-SPAN coverage — the windowed form of Lee
    et al. 2022's ExactSubstr deduplication: every ``DUP_SPAN_W``-token
    window is hashed; a window occurring at >=2 (doc, pos) positions
    corpus-wide is duplicated; per document, overlapping-or-touching
    duplicated windows merge into maximal spans (gaps-and-islands with a
    gap tolerance of W), and the output reports span count, duplicated
    window count, covered tokens (exact interval-union length), and
    fixed-point coverage.

    Unlike the set-semantics diagnostics (``dedup_shingle_coverage``
    counts distinct shingles), this is POSITIONAL: it measures how much
    contiguous text is copied, which is what substring-level dedup cuts
    out before training. The full ExactSubstr suffix array is replaced
    by the windowed equi-join form because a distributed suffix array
    is all-to-all on suffix rank, while windows keep the 100 TB shape
    embarrassingly shardable: one shuffle on the window hash (df via an
    unordered hash-key window — the dedup_ngram_jaccard pattern, one
    exchange cheaper than groupBy + join-back), then one shuffle on
    doc_id for the islands windows; everything else is map-side. The
    trade-off is the detection floor: only duplicated runs of >= W
    tokens are seen (ExactSubstr's own threshold plays the same role).

    Engine parity: md5 window hashes, integer positions, LAG-based
    island breaks, and ppm coverage as integer fixed-point DIV — no
    floats anywhere in the compared values.
    """
    toks = (
        with_tokens(parallelize_scan(load_table(spark, sf_dir, "documents")))
        .filter(F.size("toks") >= DUP_SPAN_W)
        .select("doc_id", "toks", F.size("toks").alias("n_tokens"))
    )
    wins = toks.select("doc_id", "n_tokens", _window_hashes())
    dup = wins.withColumn(
        "dfh", F.count("*").over(Window.partitionBy("h"))
    ).filter(F.col("dfh") > 1)
    perdoc = _spans(dup).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("nw").alias("n_dup_windows"),
        F.sum(F.col("e") - F.col("s") + 1).alias("covered_tokens"),
    )
    return (
        toks.select("doc_id", "n_tokens")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.expr(
                "coalesce(covered_tokens, 0) * 1000000 div n_tokens"
            ).alias("cov_ppm"),
        )
        .orderBy("doc_id")
    )


DUP_SPANS_SQL = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
base AS (
  SELECT doc_id, toks, len(toks) AS n_tokens FROM tok
  WHERE len(toks) >= {DUP_SPAN_W}
),
wins AS (
  SELECT doc_id, u.w.pos AS pos, u.w.h AS h
  FROM base,
       UNNEST([{{'pos': i - 1,
                 'h': md5(array_to_string(toks[i:i + {DUP_SPAN_W - 1}], ' '))}}
               for i in range(1, len(toks) - {DUP_SPAN_W} + 2)]) AS u(w)
),
dfh AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) > 1),
dup AS (SELECT w.doc_id, w.pos FROM wins w JOIN dfh USING (h)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {DUP_SPAN_W} THEN 0 ELSE 1 END AS brk
  FROM dup
),
isl2 AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS isl_id
  FROM isl
),
spans AS (
  SELECT doc_id, isl_id, MIN(pos) AS s, MAX(pos) + {DUP_SPAN_W - 1} AS e,
         COUNT(*) AS nw
  FROM isl2 GROUP BY doc_id, isl_id
),
perdoc AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(nw) AS n_dup_windows,
         SUM(e - s + 1) AS covered_tokens
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(COALESCE(covered_tokens, 0) AS BIGINT) AS covered_tokens,
       CAST((COALESCE(covered_tokens, 0) * 1000000) // b.n_tokens AS BIGINT)
         AS cov_ppm
FROM base b LEFT JOIN perdoc USING (doc_id)
ORDER BY b.doc_id
"""


def dedup_dup_spans_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ExactSubstr step ``dedup_dup_spans`` only measures:
    EMIT THE CLEANED CORPUS. Every ``DUP_SPAN_W``-token window occurring
    at >=2 (doc, pos) positions corpus-wide is duplicated; the FIRST
    occurrence corpus-wide (min (doc_id, pos) per window hash) is
    retained, every other occurrence is marked for removal; per document
    the removal windows merge into maximal spans (gaps-and-islands) and
    the covered tokens are CUT, keeping the rest in order — Lee et al.
    2022's actual dedup transform (reference scope: the repo has no
    dedup at all; this is the LLM-pipeline extension family). Output per
    doc: token counts before/after, cut-span count, removed tokens, and
    the reconstructed cleaned text (token-level rejoin — the transform
    operates on the tokenized stream, as token-level pipelines do).

    Scale shape — ONE extra shuffle over the measurement query: the
    window-hash exchange computes df AND the first-occurrence tie-break
    in the SAME unordered hash-key window (min over a (doc_id, pos)
    struct — no sort, unlike row_number), the doc_id exchange drives the
    island merge, span collection, and the join back onto the full
    corpus (groupBys on (doc_id, isl_id) and doc_id reuse the doc_id
    partitioning — subset-satisfied ClusteredDistribution, no new
    exchange). Reconstruction is whole-array work per row:
    ``filter(toks, (t, i) -> ...)`` with an ``exists`` over the doc's
    collected span array — both arrays are JOIN/AGG output attributes
    (O(1) reads inside the lambda), so the per-row cost is
    O(tokens x spans), not the derived-expression re-evaluation trap
    documented at operators/text.py:369. Docs shorter than W (or with
    no duplicated window) pass through unchanged — the transform is
    TOTAL over the corpus. All compared values are integers or exact
    strings."""
    toks_all = (
        with_tokens(parallelize_scan(load_table(spark, sf_dir, "documents")))
        .select("doc_id", "toks", F.size("toks").alias("n_tokens"))
    )
    wins = toks_all.filter(F.col("n_tokens") >= DUP_SPAN_W).select(
        "doc_id", _window_hashes()
    )
    w_h = Window.partitionBy("h")
    occ = F.struct(F.col("doc_id"), F.col("pos"))
    removal = (
        wins.withColumn("dfh", F.count("*").over(w_h))
        .withColumn("first_occ", F.min(occ).over(w_h))
        .filter((F.col("dfh") > 1) & (occ != F.col("first_occ")))
    )
    perdoc = _spans(removal).groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"),
        F.count(F.lit(1)).alias("n_cut_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("removed_tokens"),
    )
    kept = F.when(F.col("spans").isNull(), F.col("toks")).otherwise(
        F.expr("filter(toks, (t, i) -> NOT exists(spans, sp -> i >= sp.s AND i <= sp.e))")
    )
    return (
        toks_all.join(perdoc, "doc_id", "left")
        .withColumn("kept", kept)
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_cut_spans", F.lit(0)).cast("bigint").alias("n_cut_spans"),
            F.coalesce("removed_tokens", F.lit(0))
            .cast("bigint")
            .alias("removed_tokens"),
            F.size("kept").cast("bigint").alias("kept_tokens"),
            F.concat_ws(" ", F.col("kept")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


DUP_SPANS_REMOVAL_SQL = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
base AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM tok),
eligible AS (SELECT * FROM base WHERE n_tokens >= {DUP_SPAN_W}),
wins AS (
  SELECT doc_id, u.w.pos AS pos, u.w.h AS h
  FROM eligible,
       UNNEST([{{'pos': i - 1,
                 'h': md5(array_to_string(toks[i:i + {DUP_SPAN_W - 1}], ' '))}}
               for i in range(1, len(toks) - {DUP_SPAN_W} + 2)]) AS u(w)
),
marked AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY h) AS dfh,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM wins
),
removal AS (SELECT doc_id, pos FROM marked WHERE dfh > 1 AND rn > 1),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {DUP_SPAN_W} THEN 0 ELSE 1 END AS brk
  FROM removal
),
isl2 AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS isl_id
  FROM isl
),
spans AS (
  SELECT doc_id, isl_id, MIN(pos) AS s, MAX(pos) + {DUP_SPAN_W - 1} AS e
  FROM isl2 GROUP BY doc_id, isl_id
),
perdoc AS (
  SELECT doc_id, COUNT(*) AS n_cut_spans, SUM(e - s + 1) AS removed_tokens
  FROM spans GROUP BY doc_id
),
tokpos AS (
  SELECT doc_id, u.i AS i, toks[CAST(u.i + 1 AS INTEGER)] AS tok
  FROM base, UNNEST(range(0, n_tokens)) AS u(i)
),
kept AS (
  SELECT tp.doc_id, tp.i, tp.tok
  FROM tokpos tp
  WHERE NOT EXISTS (SELECT 1 FROM spans sp
                    WHERE sp.doc_id = tp.doc_id
                      AND tp.i BETWEEN sp.s AND sp.e)
),
keptagg AS (
  SELECT doc_id, COUNT(*) AS kept_tokens,
         string_agg(tok, ' ' ORDER BY i) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(p.n_cut_spans, 0) AS BIGINT) AS n_cut_spans,
       CAST(COALESCE(p.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       COALESCE(k.clean_text, '') AS clean_text
FROM base b
LEFT JOIN perdoc p USING (doc_id)
LEFT JOIN keptagg k USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_sigs(sh: DataFrame) -> DataFrame:
    """(doc_id, sig0..sig15) from a (doc_id, shingles) frame: explode →
    ONE md5 per shingle → 16 affine-transform MINs as a partial
    aggregation (the one-hash minhash trick; integer mul-add-mod
    replaces 15 of the 16 md5 evaluations in the hot loop)."""
    exploded = sh.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", md5_int("s", 8).alias("h")
    )
    return exploded.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MH_P)).alias(f"sig{i}")
            for i, (a, b) in enumerate(_MH_PARAMS)
        ]
    )


def minhash_bands(
    sigs: DataFrame, bands: int = NUM_BANDS, rows: int = ROWS_PER_BAND
) -> DataFrame:
    """(doc_id, band_idx, bk) long-form band keys: signatures collapse to
    one md5 key per band of ``rows`` consecutive signatures, so candidate
    generation is ONE self-equi-join on (band_idx, bk) instead of b
    separate joins."""
    band_keys = [
        F.md5(
            F.encode(
                F.concat_ws("|", *[f"sig{b * rows + r}" for r in range(rows)]),
                "UTF-8",
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return sigs.select("doc_id", *band_keys).select(
        "doc_id",
        F.posexplode(F.array(*[f"band{b}" for b in range(bands)])).alias(
            "band_idx", "bk"
        ),
    )


def _lsh_candidates(bands_long: DataFrame) -> DataFrame:
    """The LSH candidate rule: two docs are a candidate pair when they
    share any band key; each unordered pair appears once, as (doc_a,
    doc_b) with doc_a < doc_b, however many bands it shares."""
    def side(doc: str) -> DataFrame:
        return bands_long.select(F.col("doc_id").alias(doc), "band_idx", "bk")

    return (
        side("doc_a")
        .join(side("doc_b"), ["band_idx", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


def _sig_pairs(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """``pairs`` (doc_a, doc_b) with each side's signatures (the
    ``minhash_sigs`` frame) joined on as a0..a15 / b0..b15. Plain
    equi-joins: the join strategy is left to the planner, as the
    signature table grows with the corpus."""
    def side(doc: str, prefix: str) -> DataFrame:
        return sigs.toDF(doc, *[f"{prefix}{i}" for i in range(NUM_HASHES)])

    return pairs.join(side("doc_a", "a"), "doc_a").join(side("doc_b", "b"), "doc_b")


def _n_sig_match() -> Column:
    """How many of the 16 signature slots agree on a ``_sig_pairs`` row."""
    return F.expr(" + ".join(f"CAST(a{i} = b{i} AS INT)" for i in range(NUM_HASHES)))


def _verify_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """The MinHash verify rule: a candidate pair is a near-duplicate when
    its exact shingle Jaccard is >= ``MINHASH_VERIFY_THRESHOLD``; emits
    (doc_a, doc_b, jaccard)."""
    return (
        _shingle_pairs(cand, sh)
        .select("doc_a", "doc_b", _jaccard().alias("jaccard"))
        .filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard-verified at >= 0.7.

    Signature pass, band collapse, and verify are the shared helpers
    above; the exact verify touches only the deduplicated candidates.
    Shuffle volume is O(n·b) 16-byte keys — never O(n²).
    """
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    cand = _lsh_candidates(minhash_bands(minhash_sigs(sh)))
    return _verify_jaccard(cand, sh).orderBy("doc_a", "doc_b")


# Near-dup pair table, materialized once per (session, sf): the graph
# family (clusters, triangles, PageRank, LPA, k-hop, CC, modularity,
# HyperBall, the dup-source matrix) all consume the SAME verified pair
# set, and re-deriving the shingle→signature→band→verify pipeline per
# query is the single largest repeated cost in the family. This is the
# bucketed-layout amortization pattern (sources/queries.py): one write,
# N cheap consumers — in production the pair table is exactly such a
# materialized artifact. Keyed by applicationId so a restarted session
# (dead checkpoint RDDs) falls through to a rebuild, per the round-8
# catalog-cache lesson.
_DUP_PAIRS_CACHE: dict[tuple[str, str, str, tuple[int, int, int]], DataFrame] = {}


def dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) verified near-dup pairs, eagerly checkpointed and
    memoized by ``app_memo`` on the documents file stamp (shared with
    ``load_table``): a documents.parquet rewritten within one application
    is re-paired, and entries from other applications are evicted so
    dead-session DataFrames are not pinned for the process lifetime."""
    # EAGER on purpose (r12, measured): the unrolled graph fixed points
    # (HITS half-rounds, LPA rounds) re-read this frame many times —
    # deferring materialization into the first consumer made graph_hits
    # 1.67 → 1.88 s at sf0.1, so the upfront barrier stays.
    return app_memo(
        _DUP_PAIRS_CACHE, spark, sf_dir, "dup_pairs", "documents",
        lambda: dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(),
    )


_SIG_EXPRS = ",\n         ".join(
    f"MIN(({a} * h + {b}) % {_MH_P}) AS sig{i}" for i, (a, b) in enumerate(_MH_PARAMS)
)
# shingles, then one-hash MinHash signatures (doc_id, sig0..sig15)
_SIGS_CTES = f"""{SHINGLES_CTE},
sigs AS (
  SELECT doc_id,
         {_SIG_EXPRS}
  FROM (
    SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
    FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh)
  )
  GROUP BY doc_id
)"""


def _minhash_ctes() -> str:
    """The shared CTE chain ending in ``verified`` (doc_a, doc_b, jaccard)
    — used by the pair query and by the connected-components oracle."""
    band_exprs = ",\n         ".join(
        "md5("
        + " || '|' || ".join(
            f"CAST(sig{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        + f") AS band{b}"
        for b in range(NUM_BANDS)
    )
    band_union = "\n  UNION ALL\n".join(
        f"  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b"
        f" FROM bands a JOIN bands b ON a.band{b} = b.band{b}"
        f" AND a.doc_id < b.doc_id"
        for b in range(NUM_BANDS)
    )
    return f"""{_SIGS_CTES},
bands AS (
  SELECT doc_id,
         {band_exprs}
  FROM sigs
),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
{band_union}
  )
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
           / (len(x.shingles) + len(y.shingles)
              - len(list_intersect(x.shingles, y.shingles))) AS jaccard
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b
)"""


# The verified near-dup pairs and their both-direction edge list, as the
# graph oracles spell them.
_PAIRS_CTE = f"""pairs AS (
  SELECT doc_a, doc_b FROM verified WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
)"""
_EDGES_CTE = """edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
)"""
# every node reaches its own id and, transitively, its neighbours' — the
# connected-components closure (MIN(r) per doc is its component label)
_REACH_CTES = """nodes AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.doc_a, reach.r FROM edges e JOIN reach ON e.doc_b = reach.doc_id
)"""


def _match_sum_sql(x: str, y: str) -> str:
    """The 16-term signature-agreement count between sigs aliases x and y."""
    return " + ".join(
        f"CASE WHEN {x}.sig{i} = {y}.sig{i} THEN 1 ELSE 0 END" for i in range(NUM_HASHES)
    )


def _minhash_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT doc_a, doc_b, jaccard FROM verified
WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def _simhash(spark: SparkSession, sf_dir: str, bits: int) -> DataFrame:
    """(doc_id, simhash): a ``bits``-bit SimHash per document (bits/4 hex
    digits of each distinct token's md5). Each token votes ±1 on every
    bit; the fingerprint bit is the sign of the vote sum. Branch-free
    form: ones_b = Σ((h>>b)&1), and the bit is set iff 2·ones_b > n —
    identical to the ±1 vote, ties included, and ~2× cheaper in codegen
    than one CASE branch per bit on the exploded token stream. Explode +
    partial-agg — fully distributed, one shuffle on doc_id."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(F.array_distinct("toks")).alias("tok"))
    h = md5_int("tok", bits // 4)
    votes = tok.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[F.sum(F.expr(f"(h >> {b}) & 1")).alias(f"o{b}") for b in range(bits)],
    )
    fp = sum(
        F.when(2 * F.col(f"o{b}") > F.col("n_tok"), F.lit(2**b)).otherwise(F.lit(0))
        for b in range(bits)
    )
    return votes.select("doc_id", fp.cast("bigint").alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (``_simhash``)."""
    return _simhash(spark, sf_dir, SIMHASH_BITS).orderBy("doc_id")


def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
t AS (SELECT DISTINCT doc_id, UNNEST(toks) AS tok FROM tok),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 4))::BIGINT AS h FROM t),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash
FROM votes ORDER BY doc_id
"""


SIMHASH_WIDE_BITS = 60         # pair-grade fingerprint width
SIMHASH_HAM_BANDS = 4          # 60 bits → 4 bands of 15 bits
SIMHASH_HAM_MAX = 3            # pair threshold: hamming distance ≤ 3


def _wide_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc (15 hex chars of md5 → fits signed BIGINT).

    The 16-bit `dedup_simhash` fingerprint is the compact demo artifact;
    banding it would put ~n/16 docs in every 4-bit bucket and the
    candidate join would go quadratic. 15-bit bands over 60 bits give
    2^15 buckets per band — candidates stay ~linear at corpus scale,
    which is why Manku et al. run 64-bit fingerprints in production."""
    return _simhash(spark, sf_dir, SIMHASH_WIDE_BITS)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS via hamming-band LSH — closes the
    SimHash path the way MinHash-LSH closes the Jaccard path: 60-bit
    fingerprints split into {SIMHASH_HAM_BANDS} bands of 15 bits, docs
    sharing any band bucket become candidates (equi-join on the small
    (band, bucket) key, never all-pairs), verified EXACTLY with
    ``bit_count(xor)``. By pigeonhole the generation is COMPLETE: ≤
    {SIMHASH_HAM_MAX} differing bits touch at most {SIMHASH_HAM_MAX}
    bands, so every qualifying pair shares at least one clean band — the
    Manku/Google web-dedup construction (WWW'07). Multi-band matches
    dedup on the pair key before the verify."""
    fp = _wide_simhash(spark, sf_dir).localCheckpoint()  # feeds 4 band branches
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.lit(b) for b in range(SIMHASH_HAM_BANDS)])
        ).alias("band"),
    ).withColumn(
        "bucket", F.expr("(simhash >> (band * 15)) & 32767").cast("int")
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("fp_a"),
        "band",
        "bucket",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("fp_b"),
        "band",
        "bucket",
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.expr("bit_count(fp_a ^ fp_b)").cast("int")
        )
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def _simhash_pairs_sql() -> str:
    votes = ",\n         ".join(
        f"SUM((h >> {b}) & 1) AS o{b}" for b in range(SIMHASH_WIDE_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN 2 * o{b} > n_tok THEN {2**b} ELSE 0 END"
        for b in range(SIMHASH_WIDE_BITS)
    )
    return f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
t AS (SELECT DISTINCT doc_id, UNNEST(toks) AS tok FROM tok),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM t),
votes AS (
  SELECT doc_id, COUNT(*) AS n_tok,
         {votes}
  FROM h GROUP BY doc_id
),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes),
bands AS (
  SELECT doc_id, simhash, band,
         CAST((simhash >> (band * 15)) & 32767 AS INTEGER) AS bucket
  FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) AS bv(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS fp_a,
                  b.doc_id AS doc_b, b.simhash AS fp_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {SIMHASH_HAM_MAX}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def cosine_expr(a: str | Column, b: str | Column, scale: int = 6) -> Column:
    """Cosine similarity between two array<float> columns, computed in
    double and rounded to 6 decimals (64-term reduction error ~1e-14, so
    rounding is engine-portable)."""
    return cosine_from_parts(dot_expr(a, b), norm_expr(a), norm_expr(b), scale)


def norm_expr(col: str | Column) -> Column:
    """sqrt(Σu²) of an array<float> column, double — the hoistable half of
    ``cosine_expr``. Precompute it per SIDE of a pair join (one norm per
    vector instead of one per pair) and combine with ``dot_expr`` via
    ``cosine_from_parts``: the arithmetic is the identical double sequence
    cosine_expr runs, just factored out of the join, so rounded values are
    bit-equal while per-pair flops drop ~3x."""
    return F.sqrt(sum_sq_expr(col))


def sum_sq_expr(col: str | Column) -> Column:
    """Σu² of an array column in double, left to right: ``norm_expr``
    before its sqrt."""
    return F.aggregate(
        F.transform(col, lambda u: u.cast("double") * u.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_expr(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ of two array<float> columns in double (the per-pair part)."""
    return F.aggregate(
        F.zip_with(a, b, lambda u, v: u.cast("double") * v.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_from_parts(dot: Column, na: Column, nb: Column, scale: int = 6) -> Column:
    """round(dot/(na·nb), 6) — cosine_expr's tail over hoisted parts. A
    zero norm gives NULL, as the oracle's ``x / 0`` does (ANSI Spark would
    raise): a zero vector has no direction."""
    return F.round(F.try_divide(dot, na * nb), scale)


def _ss_sql(x: str) -> str:
    """Σx² of a DuckDB list in double (oracle SQL)."""
    return f"list_sum(list_transform({x}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def _dot_sql(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ of two DuckDB lists in double (oracle SQL)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"ROUND({_dot_sql(a, b)} / (sqrt({_ss_sql(a)}) * sqrt({_ss_sql(b)})), 6)"


ALLPAIRS_MAX_ROWS = 100_000  # refuse O(n²) beyond ~5e9 candidate pairs


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= 0.45 over all pairs (exact at
    oracle scale; the LSH-bucketed variant in operators/similarity is the
    100 TB path — same verify expression, candidates from hyperplane
    buckets instead of the cross join).

    Guarded: this operator is the all-pairs ORACLE BASELINE and is
    deliberately unusable on a real corpus — it raises if the input
    exceeds ``ALLPAIRS_MAX_ROWS`` so no one can point an O(n²) plan at
    100 TB by accident. Use ``dedup_embedding_lsh`` there.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > ALLPAIRS_MAX_ROWS:
        raise ValueError(
            f"dedup_embedding_cosine is an all-pairs O(n^2) baseline capped at "
            f"{ALLPAIRS_MAX_ROWS} rows (got {n}); use dedup_embedding_lsh "
            f"(operators/similarity.py) for the bucketed scale path"
        )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_expr("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .orderBy("id_a", "id_b")
    )


DEDUP_EMBEDDING_SQL = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_cos_sql('a.embedding', 'b.embedding')} AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {COSINE_DUP_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# connected components over near-dup pairs (pairs → clusters)
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 20


def _undirected(edges: DataFrame) -> DataFrame:
    """The orientation rule of every graph query that walks edges both
    ways: each row (a, b) of the two-column ``edges`` plus its reverse
    (b, a), under the same column names. No dedup — ``edges`` is a
    canonical list, one row per unordered pair (``dup_pairs`` has doc_a <
    doc_b, the co-purchase pairs pa < pb)."""
    a, b = edges.columns
    return edges.unionByName(edges.select(F.col(b).alias(a), F.col(a).alias(b)))


def _triangles(edges: DataFrame) -> DataFrame:
    """(a, b, c) per triangle a < b < c of a canonical two-column edge list
    (first column < second): the ordered 3-way self-join, each triangle
    produced once, every join keyed on node ids."""
    x, y = edges.columns

    def side(u: str, v: str) -> DataFrame:
        return edges.select(F.col(x).alias(u), F.col(y).alias(v))

    return (
        side("a", "b")
        .join(side("b2", "c"), F.col("b") == F.col("b2"))
        .join(side("a3", "c3"), (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the MinHash+LSH pairs: connected components
    with the minimum doc_id as each cluster's canonical id — the step that
    turns a pair list into an actual keep/drop decision (a doc near-dups
    A and A near-dups B ⇒ one cluster, one survivor).

    Iterative min-label propagation, the standard distributed CC: each
    round every node takes the min of its own label and its neighbors'
    labels (one join + one partial-agg shuffle per round), terminating
    when a round changes nothing. Rounds needed = graph diameter — for
    near-dup clusters, single digits; a 20-round cap guards pathological
    chains. The only driver-side work per round is a count of changed
    labels; labels/edges stay executor-side throughout (localCheckpoint
    per round truncates the growing lineage)."""
    edges = _undirected(dup_pairs(spark, sf_dir)).localCheckpoint()
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    changed = -1
    for _ in range(CC_MAX_ITERS):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # Fail loudly rather than return split components: the oracle
        # computes the exact transitive closure, and a silently-truncated
        # propagation would produce wrong (and data-dependent) labels.
        raise RuntimeError(
            f"connected components did not converge in {CC_MAX_ITERS} rounds"
        )
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_minhash_ctes()},
{_PAIRS_CTE},
{_EDGES_CTE},
{_REACH_CTES}
SELECT doc_id, MIN(r) AS cluster_id
FROM reach GROUP BY doc_id ORDER BY doc_id
"""


def corpus_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup OUTCOME per source: run the full pair → cluster
    chain, keep one canonical doc per cluster (min doc_id, the
    dedup_clusters contract) plus every unclustered doc, and report per
    source (n_docs, n_kept, kept_ppm) — the number a curation pipeline
    actually reports upstream ("source X loses 12% to dedup").

    Additions over dedup_clusters are one doc_id left join against the
    (small) cluster labels and a per-source partial agg; integer ppm."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = dedup_clusters(spark, sf_dir)
    keep = F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
    return (
        docs.join(clusters, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
        )
        .withColumn("kept_ppm", F.expr("n_kept * 1000000 DIV n_docs"))
        .orderBy("source")
    )


def _survivorship_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
{_PAIRS_CTE},
{_EDGES_CTE},
{_REACH_CTES},
clusters AS (
  SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
)
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN c.cluster_id IS NULL OR c.cluster_id = d.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN c.cluster_id IS NULL OR c.cluster_id = d.doc_id
                     THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS kept_ppm
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
GROUP BY d.source ORDER BY d.source
"""


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster RESOLUTION: within each near-dup cluster
    keep the member with the most content (n_chars, ties to the smaller
    doc_id) instead of dedup_clusters' arbitrary min-id canonical — the
    published practice (SlimPajama keeps the longest document per
    duplicate cluster; code-corpus dedups keep by popularity/length) so
    deduplication removes redundancy without discarding the best copy.
    One row per cluster: member count, the kept doc and its size, and
    the characters the drop actually removes — the per-cluster ledger a
    curation report aggregates.

    Exactness: the argmax is max(struct(n_chars, -doc_id)) mirrored by
    the oracle's ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id);
    sums are integer chars.

    Scale shape: everything downstream of the shared ``dup_pairs``
    chain (amortized once per session) is sized by the CLUSTER table —
    one doc_id equi-join against documents for n_chars and one
    cluster-keyed partial agg; the fact table never reshuffles."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    clusters = dedup_clusters(spark, sf_dir)
    members = clusters.join(docs, "doc_id")
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
            ).alias("m"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "cluster_id",
            "n_members",
            (-F.col("m.nid")).alias("kept_doc_id"),
            F.col("m.n_chars").alias("kept_chars"),
            "total_chars",
            (F.col("total_chars") - F.col("m.n_chars")).alias("dropped_chars"),
        )
        .orderBy("cluster_id")
    )


def _keep_best_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
{_PAIRS_CTE},
{_EDGES_CTE},
{_REACH_CTES},
clusters AS (
  SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
),
members AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM clusters c JOIN documents d USING (doc_id)
)
SELECT cluster_id,
       COUNT(*) AS n_members,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc_id,
       CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) - MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
         AS dropped_chars
FROM members GROUP BY cluster_id ORDER BY cluster_id
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup pair graph — the standard
    distributed graph statistic (how CLIQUEY are the dup clusters: chains
    come from drift, triangles from true copies). Canonical a<b<c ordered
    3-way self-join, so each triangle is produced exactly once; both join
    keys are node ids, shuffling only the (small) edge list."""
    return _triangles(dup_pairs(spark, sf_dir)).agg(
        F.count("*").alias("n_triangles"),
        F.coalesce(F.countDistinct("a"), F.lit(0)).alias("n_apex_docs"),
    )


GRAPH_TRIANGLES_SQL = f"""
WITH {_minhash_ctes()},
{_PAIRS_CTE}
SELECT COUNT(*) AS n_triangles,
       COALESCE(COUNT(DISTINCT e1.doc_a), 0) AS n_apex_docs
FROM pairs e1
JOIN pairs e2 ON e1.doc_b = e2.doc_a
JOIN pairs e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b
"""


PR_SCALE = 10**12  # fixed-point scale for integer PageRank
PR_ITERS = 3       # fixed unroll depth (shared with the oracle SQL)


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup pair graph (which documents sit at the
    center of a duplication cluster) — the canonical iterative
    distributed algorithm, expressed as PR_ITERS rounds of
    join + partial-agg on node ids.

    All arithmetic is FIXED-POINT INTEGER (scale 10^12, truncating
    division): contributions ``pr div deg``, damping ``(85*s) div 100``.
    Integer sums are exact and associative, so the result is
    bit-identical at any parallelism AND expressible as unrolled SQL —
    an oracle-hash-verified iterative algorithm, where float PageRank
    could only ever get a rows-only check. Truncation loses ≤1 unit of
    10^-12 mass per edge per round — far below any ranking-relevant
    difference. Scale shape per round: one shuffle of the (small) edge
    list on doc_b + one partial-agg shuffle on doc_a; ranks never leave
    the executors."""
    edges = _undirected(dup_pairs(spark, sf_dir)).localCheckpoint()
    nodes = edges.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("deg")
    )
    n_row = nodes.agg(F.count("*").alias("n"))
    pr = (
        nodes.crossJoin(F.broadcast(n_row))
        .withColumn("pr", F.expr(f"{PR_SCALE}L div n"))
    )
    for _ in range(PR_ITERS):
        contrib = pr.select(
            F.col("doc_id").alias("src"), F.expr("pr div deg").alias("c")
        )
        nbr = (
            edges.join(contrib, edges.doc_b == contrib.src)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            pr.drop("pr")
            .join(nbr, "doc_id")
            .withColumn(
                "pr",
                F.expr(f"(15L * ({PR_SCALE}L div n)) div 100 + (85L * s) div 100"),
            )
            .drop("s")
        )
    return pr.select("doc_id", F.col("pr").alias("pagerank_scaled")).orderBy("doc_id")


def _pagerank_sql() -> str:
    prev = "pr0"
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
pr{k} AS (
  SELECT p.doc_id, p.deg, p.n,
         (CAST(15 AS BIGINT) * (CAST({PR_SCALE} AS BIGINT) // p.n)) // 100
           + (CAST(85 AS BIGINT) * s.s) // 100 AS pr
  FROM {prev} p JOIN (
    SELECT e.doc_a AS doc_id, CAST(SUM(q.pr // q.deg) AS BIGINT) AS s
    FROM edges e JOIN {prev} q ON e.doc_b = q.doc_id
    GROUP BY e.doc_a
  ) s USING (doc_id)
)""")
        prev = f"pr{k}"
    return f"""
WITH {_minhash_ctes()},
{_PAIRS_CTE},
{_EDGES_CTE},
deg AS (SELECT doc_a AS doc_id, COUNT(*) AS deg FROM edges GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM deg),
pr0 AS (
  SELECT doc_id, deg, n, CAST({PR_SCALE} AS BIGINT) // n AS pr FROM deg, nn
),{",".join(iters)}
SELECT doc_id, pr AS pagerank_scaled FROM {prev} ORDER BY doc_id
"""


HITS_ITERS = 2      # fixed unroll depth (shared with the oracle SQL)
HITS_SCALE = 10**6  # max-norm fixed-point scale per half-round


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, public) over the
    near-dup pair graph, oriented by id: the verified pair (a, b) with
    a < b is read as "earlier document a points at its later near-copy
    b", so AUTHORITY scores concentrate on documents that re-collect
    many earlier sources (aggregators, mirrors) and HUB scores on
    widely-copied originals — the directed complement to PageRank's
    undirected centrality above.

    Same exactness contract as graph_pagerank: every half-round is an
    integer sum followed by ONE max-norm rescale ``raw · 10⁶ div max``
    computed in DECIMAL(38,0)/HUGEINT (the product would pass BIGINT
    at ~10¹² edges), truncating in both engines — so the unrolled SQL
    oracle hash-verifies an iterative spectral algorithm that float
    HITS could only ever get a rows-only check for. The max-norm
    replaces the paper's L2 norm (a sqrt of a sum of squares of sums —
    fine for ranking, hostile to integer exactness); both normalize
    the same fixed point direction.

    Scale shape per half-round: one equi-join of the (cluster-bounded)
    pair list against the score table + one partial-agg shuffle on the
    receiving node id, plus a 1-row max broadcast — scores never leave
    the executors, and the pair graph is the amortized dup_pairs
    checkpoint shared by the whole graph family."""
    edges = dup_pairs(spark, sf_dir)  # (doc_a < doc_b) — the orientation
    nodes = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rescale = F.expr(
        f"coalesce(CAST((CAST(raw AS DECIMAL(38,0)) * {HITS_SCALE})"
        f" div mx AS BIGINT), 0)"
    )

    def half_round(score: DataFrame, col: str, src: str, dst: str) -> DataFrame:
        raw = (
            edges.join(score, edges[src] == score["doc_id"])
            .groupBy(edges[dst].alias("doc_id"))
            .agg(F.sum(col).alias("raw"))
        )
        mx = raw.agg(F.max("raw").alias("mx"))
        return (
            nodes.join(raw, "doc_id", "left")
            .crossJoin(F.broadcast(mx))
            .select("doc_id", rescale.alias(col))
        )

    h = nodes.select(
        "doc_id", F.lit(HITS_SCALE).cast("bigint").alias("s")
    )
    a = None
    for _ in range(HITS_ITERS):
        a = half_round(h, "s", "doc_a", "doc_b")   # authorities <- hubs
        h = half_round(a, "s", "doc_b", "doc_a")   # hubs <- authorities
    return (
        h.select("doc_id", F.col("s").alias("hub_scaled"))
        .join(a.select("doc_id", F.col("s").alias("auth_scaled")), "doc_id")
        .orderBy("doc_id")
    )


def _hits_sql() -> str:
    ctes = []
    prev_h = "h0"
    last_a = None
    for k in range(1, HITS_ITERS + 1):
        ctes.append(
            f"araw{k} AS MATERIALIZED (\n"
            f"  SELECT p.doc_b AS doc_id, CAST(SUM(h.s) AS BIGINT) AS raw\n"
            f"  FROM pairs p JOIN {prev_h} h ON p.doc_a = h.doc_id\n"
            f"  GROUP BY p.doc_b)"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (\n"
            f"  SELECT n.doc_id,\n"
            f"         CAST(COALESCE((CAST(r.raw AS HUGEINT) * {HITS_SCALE})\n"
            f"           // (SELECT MAX(raw) FROM araw{k}), 0) AS BIGINT) AS s\n"
            f"  FROM nodes n LEFT JOIN araw{k} r USING (doc_id))"
        )
        ctes.append(
            f"hraw{k} AS MATERIALIZED (\n"
            f"  SELECT p.doc_a AS doc_id, CAST(SUM(a.s) AS BIGINT) AS raw\n"
            f"  FROM pairs p JOIN a{k} a ON p.doc_b = a.doc_id\n"
            f"  GROUP BY p.doc_a)"
        )
        ctes.append(
            f"h{k} AS MATERIALIZED (\n"
            f"  SELECT n.doc_id,\n"
            f"         CAST(COALESCE((CAST(r.raw AS HUGEINT) * {HITS_SCALE})\n"
            f"           // (SELECT MAX(raw) FROM hraw{k}), 0) AS BIGINT) AS s\n"
            f"  FROM nodes n LEFT JOIN hraw{k} r USING (doc_id))"
        )
        prev_h = f"h{k}"
        last_a = f"a{k}"
    return f"""
WITH {_minhash_ctes()},
{_PAIRS_CTE},
nodes AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL SELECT doc_b AS doc_id FROM pairs
  )
),
h0 AS (SELECT doc_id, CAST({HITS_SCALE} AS BIGINT) AS s FROM nodes),
{",".join(ctes)}
SELECT n.doc_id, h.s AS hub_scaled, a.s AS auth_scaled
FROM nodes n
JOIN {prev_h} h USING (doc_id)
JOIN {last_a} a USING (doc_id)
ORDER BY doc_id
"""


LPA_ROUNDS = 3


def _lpa_round(nbr_labels: DataFrame) -> DataFrame:
    """One synchronous LPA round: ``nbr_labels`` holds one row (doc_a,
    label) per directed edge, the label being the neighbour's; every node
    ``doc_a`` takes the most common one, ties to the SMALLEST label.
    ``F.mode(..., True)`` is that rule exactly: its deterministic flag
    breaks count ties toward the smallest value (without it, the pick
    among tied labels is arbitrary)."""
    return nbr_labels.groupBy(F.col("doc_a").alias("node")).agg(
        F.mode("label", True).alias("label")
    )


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by LABEL PROPAGATION over the near-dup pair
    graph (Raghavan et al. 2007, public literature) — the cheap
    community pass run before choosing canonical documents per
    duplication cluster: each node starts labeled with its own id and,
    for LPA_ROUNDS synchronous rounds, adopts the most common label
    among its neighbors (ties toward the SMALLEST label — the
    deterministic variant; the randomized tie-break of the paper is
    unreproducible across engines). Complements ``dedup_clusters``
    (exact connected components): LPA splits bridged chains that CC
    merges, at the same per-round cost.

    Scale shape per round (``_lpa_round``): one equi-join of the edge
    list against the node-sized label table, then ONE shuffle on the
    node id carrying partial ``mode`` buffers (a per-task label → count
    map per node, so at most one entry per distinct neighbour label) —
    labels never leave node cardinality. Round 1 needs no join: every
    node is still labelled with its own id, so a neighbour's label is its
    id. No pins: each round's labels are read once, by the next round, so
    the plan grows linearly with LPA_ROUNDS (unlike the
    connected-components loops, whose rounds read the previous frame
    twice and double the plan). The whole unroll is one query: building
    it starts no Spark job beyond the memoized ``dup_pairs``. The output
    is the top-20 community census (size, id range), stable under
    (n_members DESC, community) ordering. Oracle: the identical unroll as
    MATERIALIZED CTEs with a ROW_NUMBER argmax."""
    edges = _undirected(dup_pairs(spark, sf_dir))
    labels = _lpa_round(edges.select("doc_a", F.col("doc_b").alias("label")))
    for _ in range(LPA_ROUNDS - 1):
        labels = _lpa_round(edges.join(labels, edges.doc_b == labels.node))
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(20)
    )


def _lpa_sql() -> str:
    prev = "l0"
    rounds = []
    for k in range(1, LPA_ROUNDS + 1):
        rounds.append(f""",
c{k} AS MATERIALIZED (
  SELECT e.doc_a AS node, l.label, COUNT(*) AS c
  FROM edges e JOIN {prev} l ON e.doc_b = l.node
  GROUP BY 1, 2
),
l{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c{k}
  ) WHERE rn = 1
)""")
        prev = f"l{k}"
    return f"""
WITH {_minhash_ctes()},
{_PAIRS_CTE},
edges AS MATERIALIZED (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
l0 AS MATERIALIZED (
  SELECT DISTINCT doc_a AS node, doc_a AS label FROM edges
){"".join(rounds)}
SELECT label AS community, COUNT(*) AS n_members,
       MIN(node) AS min_node, MAX(node) AS max_node
FROM {prev} GROUP BY label
ORDER BY n_members DESC, community LIMIT 20
"""


KHOP_HOPS = 3


def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-hop reachability (K=3) over the near-dup graph: for every node,
    how many documents sit within 3 undirected hops — the "how far does
    contamination spread if this doc is bad" query.

    Unrolled BFS: each hop is one equi-join of the current frontier
    against the edge list on the frontier node — never an all-pairs
    product — followed by a distinct to collapse multi-paths. Edge list
    and frontier shuffle on node ids only. K fixed at plan time keeps
    the plan static (the iterative-until-convergence variant is
    ``dedup_clusters``)."""
    edges = _undirected(dup_pairs(spark, sf_dir)).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    reach = edges.select(F.col("src").alias("origin"), F.col("dst").alias("node"))
    for _ in range(KHOP_HOPS - 1):
        nxt = (
            reach.join(edges, reach.node == edges.src)
            .select("origin", F.col("dst").alias("node"))
        )
        reach = reach.union(nxt).distinct()
    return (
        reach.filter(F.col("origin") != F.col("node"))
        .groupBy("origin")
        .agg(F.count(F.lit(1)).alias("n_reachable"))
        .select(F.col("origin").alias("doc_id"), "n_reachable")
        .orderBy("doc_id")
    )


def _khop_sql() -> str:
    hops = []
    prev = "r1"
    for i in range(2, KHOP_HOPS + 1):
        hops.append(
            f"""
r{i} AS (
  SELECT origin, node FROM {prev}
  UNION
  SELECT {prev}.origin, e.doc_b AS node
  FROM {prev} JOIN edges e ON {prev}.node = e.doc_a
)"""
        )
        prev = f"r{i}"
    return f"""
WITH {_minhash_ctes()},
{_PAIRS_CTE},
{_EDGES_CTE},
r1 AS (SELECT doc_a AS origin, doc_b AS node FROM edges),{",".join(hops)}
SELECT origin AS doc_id, COUNT(DISTINCT node) AS n_reachable
FROM {prev} WHERE origin <> node
GROUP BY origin ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Blocked edit-distance dedup (record-linkage blocking)
# ---------------------------------------------------------------------------

ED_MAX = 8  # max edit distance for a near-dup pair
ED_BLOCK = 32  # length-bucket width; must be > ED_MAX for completeness


def dedup_blocked_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by edit distance <= 8, found with record-linkage
    length BLOCKING instead of an all-pairs join.

    Completeness argument: ``levenshtein(a,b) <= ED_MAX`` implies
    ``|len(a)-len(b)| <= ED_MAX < ED_BLOCK``, so a qualifying pair's
    length buckets differ by at most 1. The probe side explodes each doc
    into buckets {k-1, k, k+1} while the build side keeps only k, so every
    qualifying pair meets on exactly ONE bucket (the build doc's own) —
    no post-join dedup needed, and the equi-join shuffles on the bucket
    key. At 100 TB the cost is 3x probe-side fan-out plus within-bucket
    pairs, not n^2; the bounded ``levenshtein(_, _, threshold)`` verify
    (Ukkonen band, Spark 3.5+) caps per-pair work at O(len * ED_MAX).
    The oracle is the equivalent all-pairs query — equal by the argument
    above, which the driver's value-hash comparison re-proves per run.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("len")
    )
    probe = docs.select(
        F.col("doc_id").alias("id_l"),
        F.col("text").alias("text_l"),
        F.col("len").alias("len_l"),
        F.explode(
            F.expr(
                f"array(len DIV {ED_BLOCK} - 1, len DIV {ED_BLOCK},"
                f" len DIV {ED_BLOCK} + 1)"
            )
        ).alias("bk"),
    )
    build = docs.select(
        F.col("doc_id").alias("id_r"),
        F.col("text").alias("text_r"),
        F.col("len").alias("len_r"),
        F.expr(f"len DIV {ED_BLOCK}").alias("bk"),
    )
    return (
        probe.join(build, "bk")
        .filter(
            (F.col("id_l") < F.col("id_r"))
            & (F.abs(F.col("len_l") - F.col("len_r")) <= ED_MAX)
        )
        .withColumn("edit_dist", F.expr(f"levenshtein(text_l, text_r, {ED_MAX})"))
        .filter(F.col("edit_dist") >= 0)
        .select(
            F.col("id_l").alias("id_a"),
            F.col("id_r").alias("id_b"),
            F.col("edit_dist").cast("long").alias("edit_dist"),
            F.col("len_l").cast("long").alias("len_a"),
            F.col("len_r").cast("long").alias("len_b"),
        )
        .orderBy("id_a", "id_b")
    )


DEDUP_LEVENSHTEIN_SQL = f"""
WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       CAST(a.len AS BIGINT) AS len_a, CAST(b.len AS BIGINT) AS len_b
FROM d a JOIN d b
  ON a.doc_id < b.doc_id AND abs(a.len - b.len) <= {ED_MAX}
WHERE levenshtein(a.text, b.text) <= {ED_MAX}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# MinHash estimator quality (sketch-vs-exact eval, the recall@k analog)
# ---------------------------------------------------------------------------

def sketch_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATE quality on the LSH candidate pairs: per pair, the
    fraction of the 16 signature slots that agree (the unbiased Jaccard
    estimator) against the exact shingle Jaccard, with the absolute
    error — the eval that tells you whether 16 hashes suffice before you
    commit a 100 TB corpus to a signature width. Candidates and
    signatures are the exact plans `dedup_minhash_lsh` runs; the only
    additions are the slot-agreement count (a 16-term integer sum, an
    in-codegen projection) and the error arithmetic. n/16 and the exact
    Jaccard are both IEEE-exact doubles, so the oracle hash-matches
    bit-for-bit."""
    sh = _shingles(spark, sf_dir).localCheckpoint()
    sigs = minhash_sigs(sh).localCheckpoint()
    est = _sig_pairs(_lsh_candidates(minhash_bands(sigs)), sigs).select(
        "doc_a", "doc_b", _n_sig_match().alias("n_sig_match")
    )
    exact = _jaccard()
    return (
        _shingle_pairs(est, sh)
        .select(
            "doc_a",
            "doc_b",
            "n_sig_match",
            (F.col("n_sig_match").cast("double") / NUM_HASHES).alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.round(
                F.abs(F.col("n_sig_match").cast("double") / NUM_HASHES - exact), 6
            ).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _minhash_error_sql() -> str:
    return f"""
WITH {_minhash_ctes()},
est AS (
  SELECT c.doc_a, c.doc_b, {_match_sum_sql("x", "y")} AS n_sig_match
  FROM cand c JOIN sigs x ON x.doc_id = c.doc_a
              JOIN sigs y ON y.doc_id = c.doc_b
)
SELECT v.doc_a, v.doc_b,
       CAST(e.n_sig_match AS INTEGER) AS n_sig_match,
       CAST(e.n_sig_match AS DOUBLE) / {NUM_HASHES} AS est_jaccard,
       v.jaccard AS exact_jaccard,
       round(abs(CAST(e.n_sig_match AS DOUBLE) / {NUM_HASHES} - v.jaccard), 6)
         AS abs_err
FROM verified v JOIN est e ON v.doc_a = e.doc_a AND v.doc_b = e.doc_b
ORDER BY v.doc_a, v.doc_b
"""


# ---------------------------------------------------------------------------
# Duplicated-n-gram coverage (corpus contamination diagnostic)
# ---------------------------------------------------------------------------

def dedup_shingle_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-shingle coverage: what fraction of a doc's
    distinct 3-gram shingles also occur in at least one OTHER document —
    the corpus-level duplication diagnostic behind "dedup before
    training" decisions (cf. Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — theirs counts duplicated
    50-grams; same statistic, shorter n for the fixture's short docs).

    Plan: dup count = total − unique, which needs no per-row df at all:
    a shingle with corpus df = 1 belongs to exactly one doc, so
    n_dup(doc) = n_shingles(doc) − |shingles unique to doc|. Both sides
    are PARTIAL aggregations (map-side combine collapses the exploded
    index before it ships) and the final join is per-doc counts only —
    measured 5× faster at sf0.1 than the window-over-shingle-key
    formulation this replaces, whose global sort dominated. Fractions
    are integer fixed-point (×10^6 DIV) so both engines agree exactly."""
    # lazy pin (r13: the r12 eager→lazy sweep missed this one — the
    # eager form pays a synchronous materialization job at plan-build);
    # still pinned: shingling feeds two branches
    docs = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    inv = docs.select("doc_id", F.explode("shingles").alias("s"))
    # per-doc shingle count is the array's SIZE — in-row, no
    # explode+shuffle aggregation needed (r13; count(*) over the
    # exploded rows is the same integer)
    totals = docs.select("doc_id", F.size("shingles").cast("bigint").alias("n_shingles"))
    per_sh = inv.groupBy("s").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("only_doc")
    )
    uniq = (
        per_sh.filter(F.col("df") == 1)
        .groupBy(F.col("only_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_uniq"))
    )
    return (
        totals.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            (F.col("n_shingles") - F.coalesce("n_uniq", F.lit(0))).alias(
                "n_dup_shingles"
            ),
        )
        .withColumn(
            "dup_ppm", F.expr("n_dup_shingles * 1000000 DIV n_shingles")
        )
        .orderBy("doc_id")
    )


DEDUP_COVERAGE_SQL = f"""
WITH {SHINGLES_CTE},
inv AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
with_df AS (
  SELECT inv.doc_id, inv.s, d.df
  FROM inv JOIN (SELECT s, COUNT(*) AS df FROM inv GROUP BY s) d USING (s)
)
SELECT doc_id, COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS dup_ppm
FROM with_df GROUP BY doc_id ORDER BY doc_id
"""


def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    3-gram shingles whose first corpus occurrence (minimum doc_id — the
    ingest-order proxy) is this document. The growth-curve diagnostic a
    training-data pipeline tracks as it appends crawls: novelty trending
    to zero means new data is re-treading old n-grams (diminishing
    returns), and per-source novelty ranks which feeds still add signal.

    Plan shape mirrors `dedup_shingle_coverage`'s partial-agg trick — no
    join back onto the exploded index: first-occurrence is a min(doc_id)
    aggregate per shingle (map-side combinable), novel counts per doc
    are a COUNT over that already-aggregated table, and the final join
    is per-doc counts only. Two partial-agg shuffles (shingle key, then
    doc key) + one small join; fractions integer-fixed-point."""
    # lazy pin (r13: the r12 eager→lazy sweep missed this one); still
    # pinned: shingling feeds two branches
    docs = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    inv = docs.select("doc_id", F.explode("shingles").alias("s"))
    # per-doc shingle count is the array's SIZE — in-row, no
    # explode+shuffle aggregation needed (r13)
    totals = docs.select("doc_id", F.size("shingles").cast("bigint").alias("n_shingles"))
    novel = (
        inv.groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
        .withColumn("novelty_ppm", F.expr("n_novel * 1000000 DIV n_shingles"))
        .orderBy("doc_id")
    )


CORPUS_NOVELTY_SQL = f"""
WITH {SHINGLES_CTE},
inv AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
totals AS (SELECT doc_id, COUNT(*) AS n_shingles FROM inv GROUP BY doc_id),
novel AS (
  SELECT first_doc AS doc_id, COUNT(*) AS n_novel
  FROM (SELECT s, MIN(doc_id) AS first_doc FROM inv GROUP BY s)
  GROUP BY first_doc
)
SELECT t.doc_id, t.n_shingles,
       COALESCE(n.n_novel, 0) AS n_novel,
       CAST(COALESCE(n.n_novel, 0) * 1000000 // t.n_shingles AS BIGINT)
         AS novelty_ppm
FROM totals t LEFT JOIN novel n USING (doc_id)
ORDER BY t.doc_id
"""


BOILERPLATE_TOP = 20
BOILERPLATE_MIN_DOCS = 3


def text_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate SPAN detection — which exact 3-gram spans recur across
    the most documents (headers, footers, templates, license blurbs):
    the span-level cleaning step (CCNet/Gopher-style repeated-passage
    removal) that doc-level dedup misses, since boilerplate rides inside
    otherwise-distinct documents. Reports the top spans by distinct-doc
    reach with their corpus share in ppm; the removal pass is this same
    table broadcast back as a filter.

    One explode → partial-agg shuffle on the span (counts collapse
    map-side; the exchange carries the span VOCABULARY, not the token
    stream), one tiny doc-count broadcast, TakeOrdered top-20. Reach
    ties break lexicographically — deterministic in both engines."""
    sh = _shingles(spark, sf_dir)
    inv = sh.select("doc_id", F.explode("shingles").alias("span"))
    per_span = inv.groupBy("span").agg(
        F.countDistinct("doc_id").alias("n_docs_with")
    )
    n_docs = sh.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        per_span.filter(F.col("n_docs_with") >= BOILERPLATE_MIN_DOCS)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "span",
            "n_docs_with",
            F.expr("n_docs_with * 1000000 DIV n_docs").alias("reach_ppm"),
        )
        .orderBy(F.desc("n_docs_with"), "span")
        .limit(BOILERPLATE_TOP)
    )


BOILERPLATE_SQL = f"""
WITH {SHINGLES_CTE},
inv AS (SELECT doc_id, UNNEST(shingles) AS span FROM sh),
per_span AS (
  SELECT span, COUNT(DISTINCT doc_id) AS n_docs_with FROM inv GROUP BY span
),
n_d AS (SELECT COUNT(*) AS n_docs FROM sh)
SELECT span, n_docs_with,
       CAST(n_docs_with * 1000000 // n_docs AS BIGINT) AS reach_ppm
FROM per_span, n_d
WHERE n_docs_with >= {BOILERPLATE_MIN_DOCS}
ORDER BY n_docs_with DESC, span
LIMIT {BOILERPLATE_TOP}
"""


# ---------------------------------------------------------------------------
# Incremental MinHash dedup (new batch probed against the corpus index)
# ---------------------------------------------------------------------------

INCR_NEW_MOD = 5  # doc_id % 5 == 4 plays the "newly ingested batch"


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: probe a NEW batch (doc_id % 5 == 4 stands in
    for today's crawl) against the EXISTING corpus's band index and
    report which new docs near-dup an old doc — the shape that actually
    runs at 100 TB, where you never re-pair the whole corpus per batch:
    the old side's signatures/bands are computed once at their own
    ingest and persisted (here recomputed from the fixture; the plan
    from the band join onward is identical), and each batch pays only
    |batch|·b band rows probed into the index plus the verify joins.

    Direction matters: output is per NEW doc, with its matched OLD docs
    and the exact verified Jaccard — the keep/drop signal for the batch
    (and nothing else changes state: old-old pairs were handled at
    their own ingest, new-new pairs by the intra-batch run of
    dedup_minhash_lsh)."""
    sh = _shingles(spark, sf_dir).localCheckpoint()
    is_new = F.col("doc_id") % INCR_NEW_MOD == INCR_NEW_MOD - 1
    bands_long = minhash_bands(minhash_sigs(sh))
    idx = bands_long.filter(~is_new).select(
        F.col("doc_id").alias("doc_a"), "band_idx", "bk"
    )
    probe = bands_long.filter(is_new).select(
        F.col("doc_id").alias("doc_b"), "band_idx", "bk"
    )
    cand = (
        probe.join(idx, ["band_idx", "bk"])
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    return (
        _verify_jaccard(cand, sh)
        .select(
            F.col("doc_b").alias("new_doc"),
            F.col("doc_a").alias("dup_of_old"),
            "jaccard",
        )
        .orderBy("new_doc", "dup_of_old")
    )


def _incremental_minhash_sql() -> str:
    return f"""
WITH {_minhash_ctes()}
SELECT doc_b AS new_doc, doc_a AS dup_of_old, jaccard
FROM verified
WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
  AND doc_b % {INCR_NEW_MOD} = {INCR_NEW_MOD - 1}
  AND doc_a % {INCR_NEW_MOD} <> {INCR_NEW_MOD - 1}
UNION ALL
SELECT doc_a AS new_doc, doc_b AS dup_of_old, jaccard
FROM verified
WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
  AND doc_a % {INCR_NEW_MOD} = {INCR_NEW_MOD - 1}
  AND doc_b % {INCR_NEW_MOD} <> {INCR_NEW_MOD - 1}
ORDER BY new_doc, dup_of_old
"""


# ---------------------------------------------------------------------------
# Shingle containment (subset-duplicate detection, Broder's C(A,B))
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8
CONTAIN_RARE_DF_CAP = 10  # candidate index keeps only shingles in <= 10 docs


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs, C(A,B) = |A∩B| / |A| >= 0.8
    — Broder's containment coefficient, the criterion that catches a
    document EMBEDDED in a larger one (quote farms, boilerplate wraps,
    page-in-page mirrors), which symmetric Jaccard structurally misses:
    a 100-shingle doc inside a 10,000-shingle doc has J ≈ 0.01 but
    C = 1.0.

    Candidates come from a RARE-shingle inverted index (corpus df <=
    10): a true containment pair shares ALL of the small doc's
    shingles, so unless every one of them is corpus-common — vanishingly
    unlikely for n-grams — the pair collides on a rare one. The df cap
    bounds the index join's fanout to Σ df² over rare shingles only
    (the df-banding guard text_cooccurrence_pairs also uses); the exact
    verify then touches only deduplicated candidates. Emitted per
    DIRECTION (A-in-B and B-in-A are different claims)."""
    sh = _shingles(spark, sf_dir).localCheckpoint()
    inv = sh.select("doc_id", F.explode("shingles").alias("s"))
    rare = (
        inv.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAIN_RARE_DF_CAP)
    )
    rare_inv = inv.join(rare.select("s"), "s")
    cand = (
        rare_inv.select(F.col("doc_id").alias("doc_a"), "s")
        .join(rare_inv.select(F.col("doc_id").alias("doc_b"), "s"), "s")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    containment = _n_common().cast("double") / F.size("sh_a")
    return (
        _shingle_pairs(cand, sh)
        .select(
            "doc_a",
            "doc_b",
            _n_common().alias("n_common"),
            F.size("sh_a").alias("n_sh_a"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH {SHINGLES_CTE},
inv AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
rare AS (
  SELECT s FROM (SELECT s, COUNT(*) AS df FROM inv GROUP BY s)
  WHERE df <= {CONTAIN_RARE_DF_CAP}
),
rinv AS (SELECT doc_id, inv.s FROM inv JOIN rare USING (s)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rinv a JOIN rinv b ON a.s = b.s AND a.doc_id <> b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(x.shingles, y.shingles)) AS INTEGER) AS n_common,
       CAST(len(x.shingles) AS INTEGER) AS n_sh_a,
       CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         / len(x.shingles) AS containment
FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        / len(x.shingles) >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Cross-source duplication matrix (where is the contamination coming from?)
# ---------------------------------------------------------------------------

def corpus_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair counts AGGREGATED BY SOURCE PAIR: how many
    MinHash-verified near-dups land within each source and across each
    source pair — the diagnostic that turns a pair list into a curation
    decision (mirror-heavy source? one crawl embedded in another? drop
    or down-weight at the source level, not per doc).

    Reuses the dedup_minhash_lsh plan verbatim for pairs; the additions
    are two doc_id equi-joins to attach sources (dimension-narrow:
    doc_id + source only) and one partial-agg shuffle on the tiny
    (source, source) key. Source pairs are emitted unordered
    (least/greatest) so A-B and B-A collapse."""
    pairs = dup_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_lo", "source_hi")
    )


def _dup_source_matrix_sql() -> str:
    return f"""
WITH {_minhash_ctes()},
pairs AS (
  SELECT doc_a, doc_b FROM verified
  WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
)
SELECT least(da.source, db.source) AS source_lo,
       greatest(da.source, db.source) AS source_hi,
       COUNT(*) AS n_dup_pairs
FROM pairs
JOIN documents da ON da.doc_id = pairs.doc_a
JOIN documents db ON db.doc_id = pairs.doc_b
GROUP BY 1, 2 ORDER BY source_lo, source_hi
"""


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning curve: histogram of LSH candidate pairs by
    estimated Jaccard (matching-signature count out of 16), with the
    cumulative pair count at-or-above each level.

    This is the operator a pipeline owner runs BEFORE committing to a
    dedup threshold on a new corpus: it prices every candidate threshold
    in one pass (how many pairs would each cut keep?) using only the
    signatures — no exact verify join, so cost is the LSH candidate join
    plus two narrow 16-column lookups, never a shingle-set intersection.
    At 100 TB the histogram is 17 rows regardless of corpus size; the
    cumulative window runs on those 17 rows, not on data.
    """
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    sigs = minhash_sigs(sh)
    hist = (
        _sig_pairs(_lsh_candidates(minhash_bands(sigs)), sigs)
        .select(_n_sig_match().alias("n_match"))
        .groupBy("n_match")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = Window.orderBy(F.desc("n_match")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        hist.withColumn(
            "est_jaccard_pct", F.expr(f"(n_match * 100) div {NUM_HASHES}")
        )
        .withColumn("n_pairs_at_least", F.sum("n_pairs").over(w))
        .select(
            "n_match", "est_jaccard_pct", "n_pairs", "n_pairs_at_least"
        )
        .orderBy(F.desc("n_match"))
    )


def _threshold_sweep_sql() -> str:
    n_sigs = NUM_BANDS * ROWS_PER_BAND
    return f"""
WITH {_minhash_ctes()},
hist AS (
  SELECT ({_match_sum_sql("sa", "sb")}) AS n_match, COUNT(*) AS n_pairs
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
  GROUP BY 1
)
SELECT CAST(n_match AS INTEGER) AS n_match,
       CAST((n_match * 100) // {n_sigs} AS INTEGER) AS est_jaccard_pct,
       n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY n_match DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT)
         AS n_pairs_at_least
FROM hist ORDER BY n_match DESC
"""


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pairs in any orientation, possibly repeated →
    canonical (u < v) edge set → both-direction (u, v) adjacency."""
    return _undirected(
        pairs.select(
            F.least("doc_a", "doc_b").alias("u"), F.greatest("doc_a", "doc_b").alias("v")
        ).distinct()
    )


def _min_star(edges_sym: DataFrame) -> DataFrame:
    """(u, m): each node's minimum over itself and its neighborhood."""
    return edges_sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )


def graph_cc_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    public) over the MinHash near-dup graph — the algorithm that
    replaces diameter-many label-propagation rounds with O(log n)
    edge-rewiring rounds, the difference that matters when a 100 TB
    dedup graph grows a long chain.

    Each round is two join+aggregate passes: large-star rewires every
    strictly-greater neighbor to the neighborhood minimum, small-star
    rewires the smaller neighbors (and the center) to it. Convergence
    = the edge set reaches a fixed point (stars centered at component
    minima); labels then read off as each node's neighborhood min.
    Same output contract and the same recursive-CTE oracle as
    ``dedup_clusters`` — two independent algorithms, one verified
    answer.
    """
    pairs = dup_pairs(spark, sf_dir)
    edges = _symmetrize(pairs).localCheckpoint()
    for _ in range(CC_MAX_ITERS):
        # large-star: (v, m(u)) for neighbors v > u
        m = _min_star(edges)
        large = (
            edges.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("doc_a"), F.col("m").alias("doc_b"))
            .filter(F.col("doc_a") != F.col("doc_b"))
        )
        edges_l = _symmetrize(large).localCheckpoint()
        # small-star: (v, m(u)) for neighbors v < u, plus (u, m(u))
        m2 = _min_star(edges_l)
        small = (
            edges_l.filter(F.col("v") < F.col("u"))
            .join(m2, "u")
            .select(F.col("v").alias("doc_a"), F.col("m").alias("doc_b"))
            .unionByName(
                m2.select(F.col("u").alias("doc_a"), F.col("m").alias("doc_b"))
            )
            .filter(F.col("doc_a") != F.col("doc_b"))
        )
        new_edges = _symmetrize(small).localCheckpoint()
        changed = (
            new_edges.exceptAll(edges).count() + edges.exceptAll(new_edges).count()
        )
        edges = new_edges
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"two-phase CC did not converge in {CC_MAX_ITERS} rounds"
        )
    return (
        _min_star(edges)
        .select(F.col("u").alias("doc_id"), F.col("m").alias("cluster_id"))
        .orderBy("doc_id")
    )


def dedup_savings_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION readout: cluster-size histogram plus the
    bottom line — how many documents a keep-one-per-cluster policy
    removes, as count and ppm of the corpus. This is the number that
    justifies (or kills) running dedup on a corpus at all; it rolls up
    the connected components into |distinct sizes| rows + one total,
    so the readout costs two tiny aggregations over the CC labels."""
    labels = dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    hist = sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("n_clusters"))
    n_docs_total = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_corpus")
    )
    return (
        hist.crossJoin(F.broadcast(n_docs_total))
        .select(
            "sz",
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).alias("n_docs_in_size"),
            ((F.col("sz") - 1) * F.col("n_clusters")).alias("n_removable"),
            F.expr("(sz - 1) * n_clusters * 1000000 div n_corpus").alias(
                "removable_ppm_of_corpus"
            ),
        )
        .orderBy("sz")
    )


def _savings_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes()},
{_PAIRS_CTE},
edges AS (
  SELECT doc_a, doc_b FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs
),
{_REACH_CTES},
labels AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM labels GROUP BY cluster_id),
hist AS (SELECT sz, COUNT(*) AS n_clusters FROM sizes GROUP BY sz),
tot AS (SELECT COUNT(*) AS n_corpus FROM documents)
SELECT sz, n_clusters,
       CAST(sz * n_clusters AS BIGINT) AS n_docs_in_size,
       CAST((sz - 1) * n_clusters AS BIGINT) AS n_removable,
       (sz - 1) * n_clusters * 1000000 // n_corpus AS removable_ppm_of_corpus
FROM hist, tot ORDER BY sz
"""


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the dup-cluster partition over the
    near-dup graph — the community-QUALITY number next to the
    community-FINDING operators (dedup_clusters / graph_cc_two_phase):
    Q = Σ_c [e_c/m − (d_c/2m)²], how much more intra-cluster mass the
    partition captures than a degree-preserving random graph would.
    For a connected-components partition every edge is intra-cluster,
    so Q = 1 − Σ_c (d_c/2m)² — a pure concentration readout: Q near 0
    means one giant near-dup blob (dedup will collapse the corpus), Q
    near 1 means many small independent clusters.

    Everything is counting: per-node degrees (one agg over the
    symmetrized edges), per-cluster edge and degree totals (one agg
    each after an edge↦label broadcast join), and one integer
    fold — Q in ppm via a single division, engine-exact. At 100 TB the
    shuffles are on node/cluster ids of the (much smaller) dup graph;
    the labels themselves come from the O(log n) CC operators."""
    pairs = dup_pairs(spark, sf_dir)
    labels = dedup_clusters(spark, sf_dir)
    e_c = (
        pairs.join(
            labels.withColumnRenamed("doc_id", "doc_a"), "doc_a"
        )
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    d_c = (
        _symmetrize(pairs)
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .join(labels.withColumnRenamed("doc_id", "u"), "u")
        .groupBy("cluster_id")
        .agg(F.sum("deg").alias("d_c"))
    )
    per_c = e_c.join(d_c, "cluster_id")
    m_row = pairs.agg(F.count(F.lit(1)).alias("m"))
    return (
        per_c.crossJoin(F.broadcast(m_row))
        .agg(
            F.max("m").alias("n_edges"),
            F.count(F.lit(1)).alias("n_communities"),
            F.expr(
                "CAST(sum(4 * m * e_c - d_c * d_c) * 1000000"
                " div (4 * max(m) * max(m)) AS BIGINT)"
            ).alias("modularity_ppm"),
        )
    )


GRAPH_MODULARITY_SQL = f"""
WITH RECURSIVE {_minhash_ctes()},
{_PAIRS_CTE},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.doc_id
),
labels AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
e_c AS (
  SELECT cluster_id, COUNT(*) AS e_c
  FROM pairs JOIN labels ON doc_a = doc_id GROUP BY cluster_id
),
d_c AS (
  SELECT cluster_id, SUM(deg) AS d_c
  FROM (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u) dg
  JOIN labels ON dg.u = labels.doc_id
  GROUP BY cluster_id
),
m AS (SELECT COUNT(*) AS m FROM pairs)
SELECT CAST(MAX(m) AS BIGINT) AS n_edges,
       COUNT(*) AS n_communities,
       CAST(SUM(4 * m * e_c - d_c * d_c) * 1000000
            // (4 * MAX(m) * MAX(m)) AS BIGINT) AS modularity_ppm
FROM e_c JOIN d_c USING (cluster_id), m
"""


# ---------------------------------------------------------------------------
# Probabilistic record linkage (Fellegi–Sunter)
# ---------------------------------------------------------------------------

# Field agreement weights, milli-log-odds (log(m/u) scaled by 1000 and
# frozen as integer literals — production estimates m/u via EM; fixed
# weights keep both engines value-exact and the plan identical).
RL_W_NAME = (4000, -1000)
RL_W_BAL = (2500, -1500)
RL_W_SEG = (1200, -900)
RL_BAL_TOL_CENTS = 10
RL_MATCH_MIN = 5000  # score >= → match
RL_POSSIBLE_MIN = 0  # score in [0, match) → possible; below → non-match


def dedup_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi–Sunter 1969, public):
    match a customer file against a dirtied replica of itself via
    blocking + per-field agreement weights — entity resolution, the
    record-level sibling of the document dedup operators.

    The replica perturbs fields DETERMINISTICALLY (every 3rd key's name
    is upper-cased, every 5th balance shifted 37 cents, every 7th
    segment blanked to UNKNOWN, every 11th nation re-keyed), so ground
    truth is known and the output is a decision × truth confusion
    matrix with score bounds — precision/recall of the linkage rule
    itself, engine-exact. The nation perturbation deliberately breaks
    blocking for ~9% of true pairs: blocking recall < 1 is the real
    phenomenon every linkage pipeline must measure.

    Blocking key = (nation, last-3 of lower(name)): case-insensitive,
    so the name perturbation stays inside the block, and candidate
    pairs are one equi-join on the compound key — never |A|×|B|. At
    100 TB names repeat per block in proportion n/10³ per nation, so
    block sizes stay bounded and uniform (skewed real-world blocks →
    AQE skew-join, same as every bucketed join here). Agreement scores
    are integer sums of literal weights; the decision thresholds are
    the classic two-cutoff Fellegi–Sunter rule (match / possible /
    non-match)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        cents("c_acctbal").alias("cents"),
        "c_mktsegment",
    )
    a = cust.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("a_nat"),
        F.col("cents").alias("a_cents"),
        F.col("c_mktsegment").alias("a_seg"),
    )
    b = cust.select(
        F.col("c_custkey").alias("b_id"),
        F.when(F.col("c_custkey") % 3 == 0, F.upper("c_name"))
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.when(F.col("c_custkey") % 11 == 0, (F.col("c_nationkey") + 1) % 25)
        .otherwise(F.col("c_nationkey"))
        .alias("b_nat"),
        F.when(F.col("c_custkey") % 5 == 0, F.col("cents") + 37)
        .otherwise(F.col("cents"))
        .alias("b_cents"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
    )
    block = lambda nat, name: [  # noqa: E731
        F.col(nat).alias("blk_nat"),
        F.substring(F.lower(F.col(name)), -3, 3).alias("blk_tail"),
    ]
    cand = a.select("*", *block("a_nat", "a_name")).join(
        b.select("*", *block("b_nat", "b_name")), ["blk_nat", "blk_tail"]
    )
    score = (
        F.when(F.col("a_name") == F.col("b_name"), F.lit(RL_W_NAME[0]))
        .otherwise(F.lit(RL_W_NAME[1]))
        + F.when(
            F.abs(F.col("a_cents") - F.col("b_cents")) <= RL_BAL_TOL_CENTS,
            F.lit(RL_W_BAL[0]),
        ).otherwise(F.lit(RL_W_BAL[1]))
        + F.when(F.col("a_seg") == F.col("b_seg"), F.lit(RL_W_SEG[0])).otherwise(
            F.lit(RL_W_SEG[1])
        )
    )
    decided = cand.select(
        F.when(score >= RL_MATCH_MIN, F.lit("match"))
        .when(score >= RL_POSSIBLE_MIN, F.lit("possible"))
        .otherwise(F.lit("nonmatch"))
        .alias("decision"),
        (F.col("a_id") == F.col("b_id")).alias("is_true_pair"),
        score.alias("score"),
    )
    return (
        decided.groupBy("decision", "is_true_pair")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("decision", "is_true_pair")
    )


RECORD_LINKAGE_SQL = f"""
WITH cust AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         c_mktsegment
  FROM customer
),
a AS (
  SELECT c_custkey AS a_id, c_name AS a_name, c_nationkey AS a_nat,
         cents AS a_cents, c_mktsegment AS a_seg,
         c_nationkey AS blk_nat, substr(lower(c_name), -3) AS blk_tail
  FROM cust
),
b AS (
  SELECT c_custkey AS b_id,
         CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END
           AS b_name,
         CASE WHEN c_custkey % 11 = 0 THEN (c_nationkey + 1) % 25
              ELSE c_nationkey END AS b_nat,
         CASE WHEN c_custkey % 5 = 0 THEN cents + 37 ELSE cents END
           AS b_cents,
         CASE WHEN c_custkey % 7 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END
           AS b_seg
  FROM cust
),
cand AS (
  SELECT a.*, b.*
  FROM a JOIN b
    ON a.blk_nat = b_nat
   AND a.blk_tail = substr(lower(b_name), -3)
),
scored AS (
  SELECT (CASE WHEN a_name = b_name THEN {RL_W_NAME[0]} ELSE {RL_W_NAME[1]} END
        + CASE WHEN abs(a_cents - b_cents) <= {RL_BAL_TOL_CENTS}
               THEN {RL_W_BAL[0]} ELSE {RL_W_BAL[1]} END
        + CASE WHEN a_seg = b_seg THEN {RL_W_SEG[0]} ELSE {RL_W_SEG[1]} END)
           AS score,
         (a_id = b_id) AS is_true_pair
  FROM cand
)
SELECT CASE WHEN score >= {RL_MATCH_MIN} THEN 'match'
            WHEN score >= {RL_POSSIBLE_MIN} THEN 'possible'
            ELSE 'nonmatch' END AS decision,
       is_true_pair, COUNT(*) AS n_pairs,
       MIN(score) AS min_score, MAX(score) AS max_score
FROM scored
GROUP BY 1, 2 ORDER BY decision, is_true_pair
"""




# ---------------------------------------------------------------------------
# Co-purchase graph (nodes = parts, edges = parts bought in one order)
# ---------------------------------------------------------------------------

# every (x, y), x < y, pair of a sorted distinct array column, as struct(pa, pb)
_PAIRS_OF = (
    "flatten(transform({0}, (x, i) -> transform("
    "slice({0}, i + 2, size({0})), y -> struct(x AS pa, y AS pb))))"
)


def _copurchase_pairs(lineitem: DataFrame) -> DataFrame:
    """(pa, pb), pa < pb, per two distinct parts of one order — one row per
    order the pair shares. ONE shuffle (the per-order groupBy) instead of
    distinct + a keyed self-join: collect_set dedups parts within the
    order, and the pairs explode MAP-SIDE from the sorted part array
    (basket size is bounded, so the per-row explosion is O(1); the
    oracles' DISTINCT self-join is the same pair multiset)."""
    per_order = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    return per_order.select(F.explode(F.expr(_PAIRS_OF.format("ps"))).alias("p")).select(
        F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb")
    )


def _supported_pairs(lineitem: DataFrame, support: int) -> DataFrame:
    """The co-purchase graph's canonical edge list (pa < pb): the part
    pairs bought together in >= ``support`` orders."""
    return (
        _copurchase_pairs(lineitem)
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= support)
        .select("pa", "pb")
    )


def _adjacency(pairs: DataFrame) -> DataFrame:
    """(w, nb): each node's sorted neighbour list over the undirected
    edges; degree is size(nb). collect_set == the neighbour set exactly:
    undirected rows are unique by construction."""
    return _undirected(pairs).groupBy(F.col("pa").alias("w")).agg(
        F.array_sort(F.collect_set("pb")).alias("nb")
    )


def _open_wedges(adj: DataFrame, pairs: DataFrame, *aggs: Column) -> DataFrame:
    """(u, v, *aggs) per NON-edge u < v with a common neighbour, ``aggs``
    folding its wedges u–w–v (deg_w = the centre's degree). Each wedge is
    exploded map-side exactly once from its centre's adjacency, and the
    existing-edge anti-join runs after the aggregation — the plan
    ``graph_link_prediction`` documents."""
    return (
        adj.filter(F.size("nb") >= 2)
        .select(F.explode(F.expr(_PAIRS_OF.format("nb"))).alias("p"), F.size("nb").alias("deg_w"))
        .groupBy(F.col("p.pa").alias("u"), F.col("p.pb").alias("v"))
        .agg(*aggs)
        .join(pairs, (F.col("u") == F.col("pa")) & (F.col("v") == F.col("pb")), "left_anti")
    )


KCORE_K = 3
KCORE_ROUNDS = 4
KCORE_SUPPORT = 2


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling over the co-purchase
    graph: repeatedly drop nodes with degree < K and the edges touching
    them — the standard dense-subgraph extraction (community cores,
    spam-ring detection, recommendation seed sets). Output is the
    honest per-iteration (n_nodes, n_edges) trajectory: a fixed
    KCORE_ROUNDS unroll keeps the plan static and the readout
    deterministic whether or not the peeling has converged (the
    fixed-point variant is the same loop with a convergence guard —
    same per-round cost).

    Each round is ONE shuffle: the degree aggregate. The per-round
    (n_nodes, n_edges) readout is derived from that same degree frame
    (n_nodes = |deg|, n_edges = Σdeg/2 — each edge contributes 2) rather
    than separate countDistinct/count aggregations, and the two
    endpoint filters broadcast the surviving-node list (node cardinality
    ≪ edge cardinality — the degree table of a co-purchase graph is the
    part table's size, broadcastable at any SF). Note ``F.broadcast()``
    is a MANDATORY hint Spark honors regardless of size — an oversized
    node table would pressure the driver, not fall back; deployments
    where nodes outgrow driver memory should drop the hint and let
    ``spark.sql.autoBroadcastJoinThreshold`` choose (which does fall
    back to a shuffle hash join). ``localCheckpoint`` pins the initial
    pair build and each round's deg frame; the edge frame itself stays
    LAZY — it is only ever the pinned pairs under a short map-side
    broadcast-filter chain, and re-running that chain per degree job
    beats materializing the edge list every round. The DuckDB oracle
    is the same unroll as
    MATERIALIZED CTEs (without materialization the CTE tree re-executes
    exponentially — mirrored lesson in the plan here).
    """
    edges = _supported_pairs(
        load_table(spark, sf_dir, "lineitem"), KCORE_SUPPORT
    ).localCheckpoint(eager=False)
    out = []
    for it in range(KCORE_ROUNDS + 1):
        # one shuffle per round; deg is reused for readout, filter, AND
        # the next round's edge prune, so pin it
        deg = (
            _undirected(edges)
            .groupBy("pa")
            .agg(F.count(F.lit(1)).alias("deg"))
            .localCheckpoint(eager=False)
        )
        row = deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            # COALESCE: a fully-peeled (empty) core must read 0 edges, not
            # NULL — SUM over zero rows is NULL and would both mismatch the
            # oracle's COUNT(*)=0 and poison the column dtype
            F.expr("CAST(COALESCE(SUM(deg), 0) DIV 2 AS BIGINT)").alias(
                "n_edges"
            ),
        ).select(F.lit(it).alias("iter"), "n_nodes", "n_edges")
        out.append(row)
        if it == KCORE_ROUNDS:
            break
        keep = deg.filter(F.col("deg") >= KCORE_K).select(F.col("pa").alias("node"))
        # Deliberately NOT checkpointed (r06): edges_r is the pinned pairs
        # frame under r pairs of MAP-SIDE broadcast-filter joins (each keep
        # list derives from a PINNED deg frame, so the lineage stays shallow
        # and re-running the map chain inside the next degree job avoids
        # eagerly materializing a shrinking copy of the edge list every
        # round — at cluster scale that is 4 fewer full edge-list writes;
        # at sf0.1 the two shapes time within noise of each other. (A
        # cache()-based variant is NOT equivalent: without checkpoint's
        # lineage truncation the logical plan nests per round and
        # optimizer/plan-string costs blow up superlinearly — measured
        # 18 s vs 2.4 s at sf0.1.)
        edges = (
            edges.join(F.broadcast(keep.withColumnRenamed("node", "pa")), "pa")
            .join(F.broadcast(keep.withColumnRenamed("node", "pb")), "pb")
            .select("pa", "pb")
        )
    return reduce(lambda x, y: x.unionByName(y), out).orderBy("iter")


def _kcore_sql() -> str:
    base = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {KCORE_SUPPORT}
)"""
    parts = [base]
    for it in range(KCORE_ROUNDS):
        parts.append(f""",
u{it} AS MATERIALIZED (SELECT pa, pb FROM e{it} UNION ALL SELECT pb, pa FROM e{it}),
keep{it} AS MATERIALIZED (SELECT pa AS node FROM u{it} GROUP BY pa HAVING COUNT(*) >= {KCORE_K}),
e{it + 1} AS MATERIALIZED (
  SELECT e.pa, e.pb FROM e{it} e
  JOIN keep{it} ka ON e.pa = ka.node
  JOIN keep{it} kb ON e.pb = kb.node
)""")
    selects = []
    for it in range(KCORE_ROUNDS + 1):
        selects.append(f"""
SELECT {it} AS iter,
       (SELECT COUNT(DISTINCT pa) FROM (SELECT pa FROM e{it} UNION ALL SELECT pb FROM e{it}) t) AS n_nodes,
       (SELECT COUNT(*) FROM e{it}) AS n_edges""")
    return "".join(parts) + "\nSELECT * FROM (" + " UNION ALL ".join(selects) + ") ORDER BY iter"


KTRUSS_K = 4        # keep edges in >= K-2 triangles
KTRUSS_ROUNDS = 2   # fixed peel unroll (readout rows: rounds + 1)
KTRUSS_SINCE = "2000-06-01"  # recent-window subgraph (bounds the slice)


def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition by support peeling over the recent-window
    co-purchase graph: repeatedly drop every edge in fewer than K-2
    triangles — the EDGE-centric cousin of k-core (graph_kcore) that
    isolates cohesive communities far more tightly (an edge survives
    only if its endpoints share K-2 common neighbors; bridges and hubs
    die immediately). Output is the per-iteration (n_edges,
    n_triangles) trajectory, a fixed KTRUSS_ROUNDS unroll like k-core.

    Per round: ONE triangle enumeration (the canonical a<b<c two-join
    over the edge list keyed on node ids — each triangle produced
    once), a map-side explode of its 3 edges, one partial-agg shuffle
    for per-edge support, and a broadcast left join-back to peel.
    The ``F.broadcast()`` on the support frame is a MANDATORY hint
    (Spark honors it regardless of size); it is sound here because
    peeling shrinks support monotonically, but a deployment whose
    surviving-support table outgrows driver memory should drop the
    hint so ``autoBroadcastJoinThreshold`` can fall back to a shuffle
    hash join on the canonical pair key.
    n_triangles is derived from the SAME pinned support frame
    (sum(support) DIV 3 — each triangle contributes 3), so the readout
    costs no extra pass. The recent-window filter is partition pruning
    at 100 TB (ship-date is the natural table partition key); the
    oracle mirrors the unroll as MATERIALIZED CTEs."""
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit(KTRUSS_SINCE).cast("timestamp")
    )
    edges = _copurchase_pairs(lineitem).distinct().localCheckpoint(eager=False)
    out = []
    for it in range(KTRUSS_ROUNDS + 1):
        support = (
            _triangles(edges)
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("pa"), F.col("b").alias("pb")),
                        F.struct(F.col("b").alias("pa"), F.col("c").alias("pb")),
                        F.struct(F.col("a").alias("pa"), F.col("c").alias("pb")),
                    )
                ).alias("e")
            )
            .groupBy(F.col("e.pa").alias("pa"), F.col("e.pb").alias("pb"))
            .agg(F.count(F.lit(1)).alias("support"))
            .localCheckpoint(eager=False)
        )
        row = (
            edges.agg(F.count(F.lit(1)).alias("n_edges"))
            .crossJoin(
                support.agg(
                    F.expr(
                        "CAST(COALESCE(SUM(support), 0) DIV 3 AS BIGINT)"
                    ).alias("n_triangles")
                )
            )
            .select(F.lit(it).alias("iter"), "n_edges", "n_triangles")
        )
        out.append(row)
        if it == KTRUSS_ROUNDS:
            break
        edges = (
            edges.join(F.broadcast(support), ["pa", "pb"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= KTRUSS_K - 2)
            .select("pa", "pb")
            .localCheckpoint(eager=False)
        )
    return reduce(lambda x, y: x.unionByName(y), out).orderBy("iter")


def _ktruss_sql() -> str:
    base = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{KTRUSS_SINCE}'
),
e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)"""
    parts = [base]
    for it in range(KTRUSS_ROUNDS + 1):
        parts.append(f""",
t{it} AS MATERIALIZED (
  SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
  FROM e{it} e1 JOIN e{it} e2 ON e1.pb = e2.pa
  JOIN e{it} e3 ON e1.pa = e3.pa AND e2.pb = e3.pb
),
s{it} AS MATERIALIZED (
  SELECT pa, pb, COUNT(*) AS sup FROM (
    SELECT a AS pa, b AS pb FROM t{it}
    UNION ALL SELECT b, c FROM t{it}
    UNION ALL SELECT a, c FROM t{it}
  ) GROUP BY pa, pb
)""")
        if it < KTRUSS_ROUNDS:
            parts.append(f""",
e{it + 1} AS MATERIALIZED (
  SELECT e.pa, e.pb FROM e{it} e
  LEFT JOIN s{it} s ON e.pa = s.pa AND e.pb = s.pb
  WHERE COALESCE(s.sup, 0) >= {KTRUSS_K - 2}
)""")
    selects = []
    for it in range(KTRUSS_ROUNDS + 1):
        selects.append(f"""
SELECT {it} AS iter,
       (SELECT COUNT(*) FROM e{it}) AS n_edges,
       (SELECT CAST(COALESCE(SUM(sup), 0) // 3 AS BIGINT) FROM s{it}) AS n_triangles""")
    return (
        "".join(parts)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY iter"
    )


LINKPRED_TOP = 20
LINKPRED_SUPPORT = 2  # min co-purchase count for a graph edge


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase graph (nodes
    = parts, edges = pairs bought together in >= LINKPRED_SUPPORT
    orders): for every NON-edge (u, v) that shares at least one
    neighbor, the common-neighbor count and neighbor-Jaccard score —
    the classic "customers who buy these also buy..." candidate
    generator, scored without ever materializing the quadratic
    part×part space.

    (The near-dup graph is deliberately NOT used here: LSH band
    candidates are transitively closed on the synthetic fixture —
    clique components have no open wedges, so its link-prediction
    output is empty by construction.)

    Plan (r06 rewrite — the previous shape's per-wedge anti-join +
    countDistinct was the slowest headline at 2.9 s): the edge list
    explodes MAP-SIDE from each order's sorted part array (one shuffle,
    the kcore/q_market_basket_pairs fan-out argument: Σ C(k,2), k ≤
    order line count), then wedges explode MAP-SIDE from each center
    node's sorted adjacency array — no und⋈und self-join, and because
    every (center w, pair u<v) is produced exactly ONCE, the CN count
    is a plain partial-aggregating COUNT(*), not a two-phase
    countDistinct. The existing-edge anti-join runs AFTER the CN
    aggregation (|candidate pairs| rows, not |wedges| rows — same
    result, the filter is per (u,v) key either way). deg comes free as
    size(adjacency) from the same grouped frame. jaccard_ppm =
    10^6·|CN| / (deg_u + deg_v − |CN|) in BIGINT — engine-exact.

    Scale note: per-center wedge fan-out is C(deg,2) — the same Σdeg²
    total the self-join shape moves, produced without shuffling the
    und table twice. A 100 TB deployment with power-law hubs caps or
    samples hub adjacency before the explode (standard for CN scoring;
    a 10⁶-degree hub is 10¹² wedges under EITHER enumeration).
    """
    pairs = _supported_pairs(
        load_table(spark, sf_dir, "lineitem"), LINKPRED_SUPPORT
    ).localCheckpoint(eager=False)
    # One shuffle builds BOTH the per-node adjacency (wedge source) and
    # the degree table (size of the same array).
    # NOT pinned (r12, measured): adj feeds the wedge explode and two
    # deg broadcast builds, but all three branches sit in ONE query and
    # AQE reuses the identical und-groupBy shuffle stage at runtime — a
    # localCheckpoint here only added materialization I/O (2.47 → 2.92 s
    # at sf0.1 in the A/B harness) and was reverted.
    adj = _adjacency(pairs)
    deg = adj.select(F.col("w").alias("node"), F.size("nb").alias("deg"))
    cn = _open_wedges(adj, pairs, F.count(F.lit(1)).alias("cn"))
    return (
        cn.join(F.broadcast(deg.withColumnRenamed("node", "u")), "u")
        .withColumnRenamed("deg", "deg_u")
        .join(F.broadcast(deg.withColumnRenamed("node", "v")), "v")
        .withColumnRenamed("deg", "deg_v")
        .select(
            "u",
            "v",
            "cn",
            "deg_u",
            "deg_v",
            F.expr("cn * 1000000 DIV (deg_u + deg_v - cn)").alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "u", "v")
        .limit(LINKPRED_TOP)
    )


# the supported co-purchase pairs, their degrees and every wedge u-w-v
_WEDGE_CTES = f"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {LINKPRED_SUPPORT}
),
und AS (
  SELECT pa, pb FROM pairs
  UNION ALL SELECT pb AS pa, pa AS pb FROM pairs
),
deg AS (SELECT pa AS node, COUNT(*) AS deg FROM und GROUP BY pa),
wedges AS (
  SELECT e1.pa AS u, e2.pb AS v, e1.pb AS w
  FROM und e1 JOIN und e2
    ON e1.pb = e2.pa AND e1.pa < e2.pb
)"""


def _linkpred_sql() -> str:
    return f"""
{_WEDGE_CTES},
non_edges AS (
  SELECT u, v, w FROM wedges
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p WHERE p.pa = wedges.u AND p.pb = wedges.v
  )
),
cn AS (SELECT u, v, COUNT(DISTINCT w) AS cn FROM non_edges GROUP BY u, v)
SELECT u, v, cn, du.deg AS deg_u, dv.deg AS deg_v,
       CAST(cn * 1000000 // (du.deg + dv.deg - cn) AS BIGINT) AS jaccard_ppm
FROM cn
JOIN deg du ON cn.u = du.node
JOIN deg dv ON cn.v = dv.node
ORDER BY jaccard_ppm DESC, u, v
LIMIT {LINKPRED_TOP}
"""


def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009, EPJ B
    "Predicting missing links via local information" — the RA index,
    the degree-weighted local predictor that consistently outperforms
    plain common-neighbors and Adamic-Adar in the published
    benchmarks): RA(u,v) = Σ_{{w ∈ CN(u,v)}} 1/deg(w) — a shared
    neighbor "transmits a unit of resource" split evenly among its
    neighbors, so a hub certifies a pair far more weakly than a
    low-degree bridge. Complements ``graph_link_prediction`` (CN count
    + neighbor-Jaccard): same candidate space, different — and
    strictly degree-aware — scoring.

    Exactness: Adamic-Adar's 1/log deg needs libm; RA's 1/deg is a
    RATIONAL, kept as the ppm integer ``10⁶ div deg(w)`` per wedge
    (truncating, order-independent under summation) — which is exactly
    why RA, not AA, is the published index this engine ships.

    Plan shape (the r06 link-prediction rewrite's argument): one
    lineitem shuffle into per-order part arrays → map-side edge
    explode → one adjacency groupBy (degree = size of the same array)
    → map-side wedge explode carrying the CENTER's 10⁶ div deg — each
    (u, v, w) wedge produced exactly once, so the score is a plain
    partial-aggregating SUM — → existing-edge anti-join AFTER the
    aggregation → top-{LINKPRED_TOP}. Per-center fan-out is C(deg, 2);
    hub capping applies at 100 TB as documented on the CN variant."""
    pairs = _supported_pairs(
        load_table(spark, sf_dir, "lineitem"), LINKPRED_SUPPORT
    ).localCheckpoint(eager=False)
    return (
        _open_wedges(
            _adjacency(pairs),
            pairs,
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.expr("CAST(1000000 div deg_w AS BIGINT)")).alias("ra_ppm"),
        )
        .select("u", "v", "cn", "ra_ppm")
        .orderBy(F.desc("ra_ppm"), "u", "v")
        .limit(LINKPRED_TOP)
    )


def _resource_allocation_sql() -> str:
    return f"""
{_WEDGE_CTES},
scored AS (
  SELECT wedges.u, wedges.v, COUNT(*) AS cn,
         CAST(SUM(1000000 // deg.deg) AS BIGINT) AS ra_ppm
  FROM wedges JOIN deg ON wedges.w = deg.node
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p WHERE p.pa = wedges.u AND p.pb = wedges.v
  )
  GROUP BY wedges.u, wedges.v
)
SELECT u, v, cn, ra_ppm
FROM scored ORDER BY ra_ppm DESC, u, v LIMIT {LINKPRED_TOP}
"""


GRAPH_RESOURCE_ALLOCATION_SQL = _resource_allocation_sql()


# ---------------------------------------------------------------------------
# LSH band-configuration tuning curve
# ---------------------------------------------------------------------------

LSH_TUNE_CONFIGS = [(8, 2), (4, 4), (2, 8)]  # (bands, rows) splits of 16 sigs


def _capture_ppm(bands: int, rows: int, jacc_tenths: int = 7) -> int:
    """Exact S-curve capture probability 1 - (1 - j^r)^b at j =
    jacc_tenths/10, evaluated as an exact rational in Python ints and
    floored to ppm — a config CONSTANT (embedded identically in the
    Spark plan and the oracle), not data math."""
    num, den = jacc_tenths**rows, 10**rows
    cap_num, cap_den = den**bands - (den - num) ** bands, den**bands
    return cap_num * 1_000_000 // cap_den


def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH parameter-selection table: for each way of splitting the
    16 MinHash signatures into (bands × rows) — (8×2), (4×4), (2×8) —
    the measured candidate-pair count, the exact-Jaccard survivors at
    the 0.7 threshold, the resulting precision, and the theoretical
    S-curve capture probability 1−(1−j^r)^b at j=0.7. This table IS how
    the production band config is chosen before a 100 TB dedup run:
    more rows/band moves the S-curve right (fewer, cleaner candidates),
    more bands moves it left (higher recall, more verify work) — the
    measured precision column shows the trade on THIS corpus, the
    theory column anchors it.

    One signature pass is shared by all three configs (localCheckpoint —
    sigs are the expensive part). r13: the three candidate sets are
    NESTED — a band collision under (2×8) means 8 consecutive sigs are
    equal, which implies both (4×4) half-bands and all four (8×2)
    quarter-bands collide — so ONE banded self-join (the widest
    config, 8×2) builds the candidate superset, ONE exact-verify join
    computes each pair's Jaccard, and the two finer configs are
    in-row sig-equality flags on that single pair frame, folded by one
    conditional aggregate (guide §2.4: two self-joins, two verify
    joins, and four count aggregations removed). Membership via exact
    sig equality is the md5 band-key equality up to md5 collisions —
    the same vanishing-probability caveat the band keys themselves
    already carry. Both signature sides join through ``_sig_pairs``
    with no broadcast hint: the signature table grows with the corpus,
    so the planner (AQE at runtime) picks the join strategy. Counts are
    integers; theory values are config constants — hash-exact."""
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    sigs = minhash_sigs(sh).localCheckpoint(eager=False)
    cand = _lsh_candidates(minhash_bands(sigs, *LSH_TUNE_CONFIGS[0]))
    # per pair: which signature slots agree, and the exact Jaccard
    agree = ", ".join(f"a{i} = b{i}" for i in range(NUM_HASHES))
    flagged = _shingle_pairs(_sig_pairs(cand, sigs), sh).select(
        F.expr(f"array({agree})").alias("eq"), _jaccard().alias("jac")
    )
    jac = F.col("jac")

    def collides(bands: int, rows: int) -> Column:
        # does this candidate pair collide under (bands × rows)? some
        # band's `rows` consecutive signatures all equal — the exact
        # condition the md5 band key encodes
        return F.expr(
            f"exists(sequence(0, {bands - 1}),"
            f" b -> forall(slice(eq, b * {rows} + 1, {rows}), x -> x))"
        )

    # count_if, not sum: an empty candidate set counts 0 (the oracle's
    # COUNT(*)), where a sum over zero rows is NULL
    stats = flagged.agg(
        *[
            agg
            for i, (bands, rows) in enumerate(LSH_TUNE_CONFIGS)
            for agg in (
                F.count_if(collides(bands, rows)).alias(f"nc{i}"),
                F.count_if(
                    collides(bands, rows) & (jac >= MINHASH_VERIFY_THRESHOLD)
                ).alias(f"nv{i}"),
            )
        ]
    )
    rows_arr = F.array(
        *[
            F.struct(
                F.lit(bands).alias("n_bands"),
                F.lit(rows).alias("rows_per_band"),
                F.col(f"nc{i}").alias("n_candidates"),
                F.col(f"nv{i}").alias("n_verified"),
                F.lit(_capture_ppm(bands, rows)).alias("theory_capture_ppm"),
            )
            for i, (bands, rows) in enumerate(LSH_TUNE_CONFIGS)
        ]
    )
    return (
        stats.select(F.explode(rows_arr).alias("r"))
        .select(
            "r.n_bands",
            "r.rows_per_band",
            "r.n_candidates",
            "r.n_verified",
            # NULL precision with no candidates (the oracle's 0 // 0), which
            # ANSI DIV by zero would raise on instead
            F.expr("r.n_verified * 1000000 DIV nullif(r.n_candidates, 0)").alias(
                "precision_ppm"
            ),
            "r.theory_capture_ppm",
        )
        .orderBy("n_bands")
    )


def _lsh_tuning_sql() -> str:
    per_config = []
    for bands, rows in LSH_TUNE_CONFIGS:
        band_exprs = ", ".join(
            "md5("
            + " || '|' || ".join(
                f"CAST(sig{b * rows + r} AS VARCHAR)" for r in range(rows)
            )
            + f") AS band{b}"
            for b in range(bands)
        )
        band_union = "\n    UNION ALL\n".join(
            f"    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b"
            f" FROM bands_{bands}x{rows} a JOIN bands_{bands}x{rows} b"
            f" ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
            for b in range(bands)
        )
        per_config.append(
            f"""bands_{bands}x{rows} AS (
  SELECT doc_id, {band_exprs} FROM sigs
),
cand_{bands}x{rows} AS (
  SELECT DISTINCT doc_a, doc_b FROM (
{band_union}
  )
),
ver_{bands}x{rows} AS (
  SELECT COUNT(*) AS n_verified FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
           / (len(x.shingles) + len(y.shingles)
              - len(list_intersect(x.shingles, y.shingles))) AS jaccard
    FROM cand_{bands}x{rows} c
    JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id
  ) WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
),
row_{bands}x{rows} AS (
  SELECT {bands} AS n_bands, {rows} AS rows_per_band,
         (SELECT COUNT(*) FROM cand_{bands}x{rows}) AS n_candidates,
         (SELECT n_verified FROM ver_{bands}x{rows}) AS n_verified
)"""
        )
    rows_union = "\nUNION ALL\n".join(
        f"SELECT * FROM row_{bands}x{rows}" for bands, rows in LSH_TUNE_CONFIGS
    )
    theory = " ".join(
        f"WHEN {bands} THEN {_capture_ppm(bands, rows)}"
        for bands, rows in LSH_TUNE_CONFIGS
    )
    return f"""
WITH {_SIGS_CTES},
{",".join(per_config)}
SELECT CAST(n_bands AS INTEGER) AS n_bands,
       CAST(rows_per_band AS INTEGER) AS rows_per_band,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_verified AS BIGINT) AS n_verified,
       CAST(n_verified * 1000000 // n_candidates AS BIGINT) AS precision_ppm,
       CAST(CASE n_bands {theory} END AS BIGINT) AS theory_capture_ppm
FROM ({rows_union})
ORDER BY n_bands
"""



# ---------------------------------------------------------------------------
# HyperBall-style neighborhood function via KMV sketches
# ---------------------------------------------------------------------------

HB_ROUNDS = 3
HB_K = 3  # KMV register size: k smallest hashes per ball (small so the
# fixture's 2-3-node dup clusters exercise BOTH estimator regimes)
HB_HMAX = 1 << 32  # hash domain (32-bit md5 prefix, as in minhash_sigs)


def graph_hyperball_nf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood function N(t) = Σ_v |ball(v, t)| of the near-dup pair
    graph, estimated with mergeable distinct-count sketches — the
    HyperBall algorithm (Boldi & Vigna 2013, public), which computed
    distance distributions of 10⁹-node graphs this way. HyperBall uses
    HyperLogLog registers; this engine uses KMV (k-minimum-values)
    registers instead: a KMV union is ``sort(distinct(concat)) [:k]`` —
    pure integer array expressions, so unlike HLL's harmonic-mean float
    estimate the whole fixed-point is engine-exact and DuckDB-verifiable.

    Per round t: every node's register merges its neighbors' round-t−1
    registers (one edge join + one partial-agg shuffle — registers are
    K·8 bytes of state per node, never the ball itself, which is the
    entire point at 100 TB where balls explode combinatorially). The
    estimate is exact (=|reg|) below saturation and the standard KMV
    estimator (k−1)·H/h_(k) above it — reported per round with the
    saturated-register count so a reader can see which regime each
    round is in.
    """
    edges = _undirected(dup_pairs(spark, sf_dir)).localCheckpoint(eager=False)
    h = md5_int("doc_id", 8).alias("h")
    reg = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .select("doc_id", F.array(h).alias("reg"))
    )
    est = F.when(F.size("reg") < HB_K, F.size("reg").cast("bigint")).otherwise(
        F.expr(f"({HB_K - 1} * CAST({HB_HMAX} AS BIGINT)) div element_at(reg, {HB_K})")
    )

    def readout(r: DataFrame, t: int) -> DataFrame:
        return r.select(est.alias("e"), (F.size("reg") >= HB_K).cast("int").alias("sat")).agg(
            F.lit(t).alias("t"),
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("e").alias("nf_est"),
            F.sum("sat").alias("n_saturated"),
        )
    outs = [readout(reg, 0)]
    for t in range(1, HB_ROUNDS + 1):
        nbr = (
            edges.join(reg.withColumnRenamed("doc_id", "doc_b"), "doc_b")
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.flatten(F.collect_list("reg")).alias("nreg"))
        )
        reg = (
            reg.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.slice(
                    F.array_sort(
                        F.array_distinct(
                            F.concat("reg", F.coalesce("nreg", F.array()))
                        )
                    ),
                    1,
                    HB_K,
                ).alias("reg"),
            )
            .localCheckpoint(eager=False)
        )
        outs.append(readout(reg, t))
    return reduce(lambda x, y: x.unionByName(y), outs).orderBy("t")


def _hyperball_sql() -> str:
    est = (
        f"CASE WHEN len(reg) < {HB_K} THEN CAST(len(reg) AS BIGINT)"
        f" ELSE ({HB_K - 1} * CAST({HB_HMAX} AS BIGINT)) // reg[{HB_K}] END"
    )
    rounds = []
    prev = "reg0"
    for t in range(1, HB_ROUNDS + 1):
        rounds.append(f"""
reg{t} AS (
  SELECT r.doc_id,
         list_sort(list_distinct(r.reg || COALESCE(n.nreg, [])))[1:{HB_K}] AS reg
  FROM {prev} r LEFT JOIN (
    SELECT e.doc_a AS doc_id, flatten(list(q.reg)) AS nreg
    FROM edges e JOIN {prev} q ON e.doc_b = q.doc_id
    GROUP BY e.doc_a
  ) n USING (doc_id)
)""")
        prev = f"reg{t}"
    reads = "\n  UNION ALL\n  ".join(
        f"SELECT {t} AS t, COUNT(*) AS n_nodes,"
        f" CAST(SUM({est}) AS BIGINT) AS nf_est,"
        f" CAST(SUM(CASE WHEN len(reg) >= {HB_K} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_saturated FROM reg{t}"
        for t in range(0, HB_ROUNDS + 1)
    )
    return f"""
WITH {_minhash_ctes()},
{_PAIRS_CTE},
{_EDGES_CTE},
reg0 AS (
  SELECT doc_a AS doc_id,
         [('0x' || substr(md5(CAST(doc_a AS VARCHAR)), 1, 8))::BIGINT] AS reg
  FROM (SELECT DISTINCT doc_a FROM edges)
),
{",".join(rounds)}
SELECT t, n_nodes, nf_est, n_saturated FROM (
  {reads}
) ORDER BY t
"""


# ---------------------------------------------------------------------------
# b-bit minwise hashing (Li & König 2010)
# ---------------------------------------------------------------------------

BBIT_B = 2  # bits kept per hash: 32x storage cut vs a 64-bit signature


def dedup_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & König, WWW 2010, public): store only
    the lowest b=2 bits of each of the 16 minhashes — a
    32× signature-storage cut vs 64-bit values — and recover Jaccard from
    the matched-bit fraction with the paper's collision correction:
    E[m/k] = C + (1−C)·J with C = 1/2^b, so Ĵ = (m·2^b − k) / (k·(2^b−1)).

    The query is the estimator's AUDIT: for every LSH band candidate pair
    it reports the b-bit estimate, the full-signature estimate (m64/k),
    and the EXACT shingle Jaccard, all in integer ppm — fixed-point
    rationals of match counts, engine-exact. Negative corrections clamp
    to 0 via GREATEST (a pair can match fewer than k/2^b hashes by
    chance).

    Plan shape: the signature pass and band self-equi-join are the shared
    minhash machinery (O(n·bands) shuffle keys, never all-pairs); the
    audit join brings each side's 16 sigs + shingle set to the candidate
    row — at 100 TB only the b-bit columns (4 bytes/doc packed) would
    ship, which is the operator's entire point.
    """
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    sigs = minhash_sigs(sh)
    mod = 1 << BBIT_B
    m_bbit = sum(
        (F.col(f"a{i}") % mod == F.col(f"b{i}") % mod).cast("int")
        for i in range(NUM_HASHES)
    )
    return (
        _shingle_pairs(_sig_pairs(_lsh_candidates(minhash_bands(sigs)), sigs), sh)
        .select(
            "doc_a",
            "doc_b",
            m_bbit.alias("m_bbit"),
            _n_common().alias("n_common"),
            (F.size("sh_a") + F.size("sh_b") - _n_common()).alias("n_union"),
            _n_sig_match().alias("m_full"),
        )
        .select(
            "doc_a",
            "doc_b",
            "m_bbit",
            F.expr(
                f"GREATEST(0, (m_bbit * {mod} - {NUM_HASHES}) * 1000000"
                f" div ({NUM_HASHES} * {mod - 1}))"
            ).alias("est_bbit_ppm"),
            F.expr(f"m_full * 1000000 div {NUM_HASHES}").alias("est_full_ppm"),
            F.expr("n_common * 1000000 div n_union").alias("exact_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _bbit_sql() -> str:
    mod = 1 << BBIT_B
    m_bbit = " + ".join(
        f"CASE WHEN sa.sig{i} % {mod} = sb.sig{i} % {mod} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    return f"""
WITH {_minhash_ctes()},
audit AS (
  SELECT c.doc_a, c.doc_b,
         ({m_bbit}) AS m_bbit,
         ({_match_sum_sql("sa", "sb")}) AS m_full,
         len(list_intersect(x.shingles, y.shingles)) AS n_common,
         len(x.shingles) + len(y.shingles)
           - len(list_intersect(x.shingles, y.shingles)) AS n_union
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b
)
SELECT doc_a, doc_b, CAST(m_bbit AS INTEGER) AS m_bbit,
       CAST(GREATEST(0, (m_bbit * {mod} - {NUM_HASHES}) * 1000000
            // ({NUM_HASHES} * {mod - 1})) AS BIGINT) AS est_bbit_ppm,
       CAST(m_full * 1000000 // {NUM_HASHES} AS BIGINT) AS est_full_ppm,
       CAST(n_common * 1000000 // n_union AS BIGINT) AS exact_ppm
FROM audit ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# dedup_repeated_lines — C4-style corpus-wide line-level dedup (keep-first)
# ---------------------------------------------------------------------------

# Tokens per "line" — the same chunk-as-line contract as
# operators/quality.py's Gopher repetition battery (the word-soup fixture
# has no newlines, so consecutive 5-token chunks stand in for lines; the
# fixture's tiny vocabulary makes cross-document chunk collisions common
# enough to exercise the operator without augmentation: 257 distinct
# chunks recur across documents at sf0.01).
REPLINE_W = 5


def dedup_repeated_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide LINE-level exact dedup with keep-first semantics — the
    published pretraining granularity between document dedup and
    ExactSubstr span removal: C4 (Raffel et al. 2020 §2.2) discards any
    three-sentence span occurring more than once in the corpus, and
    RefinedWeb/FineWeb run the same pass at line granularity. A line
    occurring in several documents (cookie banners, nav bars, license
    blurbs) survives only at its FIRST occurrence in (doc_id, line_idx)
    order; every other occurrence is removed. Output is the per-document
    removal ledger: lines seen, lines removed, characters removed, and
    the kept-character ppm a mixing pipeline would weight by.

    Exactness: first occurrence is ``min(doc_id·10⁶ + idx)`` per line
    (idx < 10⁶ by construction — a 5-token line per 10⁶ lines would be a
    200-million-token document), identical integer expression in both
    engines; character counts exclude the synthetic separator (same
    convention as quality_gopher_repetition); ppm is truncating integer
    division.

    Plan shape: one documents scan → in-row chunk array → ONE
    doc_id-keyed generate (posexplode) → a groupBy keyed by the line
    STRING (partial aggregation collapses duplicate lines map-side, so a
    hot boilerplate line arrives at the reducer as per-mapper partials,
    not 10⁹ raw rows) → one equi-join back on the line string (AQE skew
    join handles the hot keys) → per-doc partial agg. At 100 TB the
    groupBy/join key would be xxhash64(line) instead of the raw string —
    16-byte shuffle rows — kept as the string here so the DuckDB oracle
    is value-exact on the same contract."""
    docs = (
        with_tokens(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "toks")
        .filter(F.size("toks") >= 1)
    )
    w = REPLINE_W
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.expr(f"(size(toks) + {w - 1}) div {w}") - 1
                ),
                lambda i: F.array_join(
                    F.slice("toks", (i * w + 1).cast("int"), w), " "
                ),
            )
        ).alias("idx", "cstr"),
    ).select(
        "doc_id",
        "idx",
        "cstr",
        F.length(F.replace(F.col("cstr"), F.lit(" "), F.lit(""))).cast(
            "bigint"
        ).alias("cchars"),
        (F.col("doc_id") * 1_000_000 + F.col("idx")).alias("okey"),
    ).localCheckpoint(eager=False)
    # localCheckpoint: chunks feeds two plan branches (the line-keyed
    # groupBy and the join-back) — without the pin, Spark re-derives the
    # documents scan + posexplode chunking once per branch (the
    # plan-duplication trap; same amortization convention as dup_pairs).
    lines = chunks.groupBy("cstr").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min("okey").alias("first_okey"),
    )
    flagged = chunks.join(lines, "cstr").select(
        "doc_id",
        "cchars",
        (
            (F.col("n_occ") >= 2) & (F.col("okey") != F.col("first_okey"))
        ).alias("removed"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("removed").cast("bigint")).alias("n_removed"),
            F.sum("cchars").alias("chars_total"),
            F.sum(
                F.when(F.col("removed"), F.col("cchars")).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias("chars_removed"),
        )
        .withColumn(
            "kept_char_ppm",
            F.expr("(chars_total - chars_removed) * 1000000 div chars_total"),
        )
        .orderBy("doc_id")
    )


DEDUP_REPEATED_LINES_SQL = f"""
WITH docs AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
  WHERE len({TOKENS_SQL}) >= 1
),
chunks AS (
  SELECT doc_id, idx,
         array_to_string(toks[idx*{REPLINE_W}+1 : idx*{REPLINE_W}+{REPLINE_W}],
                         ' ') AS cstr,
         doc_id * 1000000 + idx AS okey
  FROM (SELECT doc_id, toks,
               UNNEST(range((len(toks) + {REPLINE_W - 1}) // {REPLINE_W}))
                 AS idx
        FROM docs)
),
c2 AS (
  -- length() = characters (matches Spark length); strlen() would be bytes
  SELECT doc_id, okey, cstr,
         CAST(length(replace(cstr, ' ', '')) AS BIGINT) AS cchars
  FROM chunks
),
lines AS (
  SELECT cstr, COUNT(*) AS n_occ, MIN(okey) AS first_okey
  FROM c2 GROUP BY cstr
),
flagged AS (
  SELECT doc_id, cchars,
         (n_occ >= 2 AND okey <> first_okey) AS removed
  FROM c2 JOIN lines USING (cstr)
)
SELECT doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(cchars) AS BIGINT) AS chars_total,
       CAST(SUM(CASE WHEN removed THEN cchars ELSE 0 END) AS BIGINT)
         AS chars_removed,
       (CAST(SUM(cchars) AS BIGINT)
          - CAST(SUM(CASE WHEN removed THEN cchars ELSE 0 END) AS BIGINT))
         * 1000000
         // CAST(SUM(cchars) AS BIGINT) AS kept_char_ppm
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


QUERIES = {
    dedup_repeated_lines: DEDUP_REPEATED_LINES_SQL,
    graph_hits: _hits_sql(),
    graph_hyperball_nf: _hyperball_sql(),
    dedup_bbit_minhash: _bbit_sql(),
    graph_link_prediction: _linkpred_sql(),
    graph_resource_allocation: GRAPH_RESOURCE_ALLOCATION_SQL,
    graph_kcore: _kcore_sql(),
    graph_ktruss: _ktruss_sql(),
    graph_modularity: GRAPH_MODULARITY_SQL,
    dedup_record_linkage: RECORD_LINKAGE_SQL,
    dedup_savings_summary: _savings_sql(),
    graph_cc_two_phase: DEDUP_CLUSTERS_SQL,
    dedup_threshold_sweep: _threshold_sweep_sql(),
    sketch_minhash_error: _minhash_error_sql(),
    dedup_shingle_coverage: DEDUP_COVERAGE_SQL,
    corpus_ngram_novelty: CORPUS_NOVELTY_SQL,
    text_boilerplate_spans: BOILERPLATE_SQL,
    dedup_simhash_pairs: _simhash_pairs_sql(),
    corpus_dup_source_matrix: _dup_source_matrix_sql(),
    dedup_containment: DEDUP_CONTAINMENT_SQL,
    dedup_incremental_minhash: _incremental_minhash_sql(),
    corpus_survivorship: _survivorship_sql(),
    dedup_keep_best_quality: _keep_best_sql(),
    dedup_exact: DEDUP_EXACT_SQL,
    dedup_blocked_levenshtein: DEDUP_LEVENSHTEIN_SQL,
    dedup_clusters: DEDUP_CLUSTERS_SQL,
    graph_khop_reach: _khop_sql(),
    graph_triangle_count: GRAPH_TRIANGLES_SQL,
    graph_pagerank: _pagerank_sql(),
    graph_label_propagation: _lpa_sql(),
    dedup_ngram_jaccard: DEDUP_NGRAM_SQL,
    dedup_dup_spans: DUP_SPANS_SQL,
    dedup_dup_spans_removal: DUP_SPANS_REMOVAL_SQL,
    dedup_minhash_lsh: _minhash_sql(),
    dedup_lsh_tuning_curve: _lsh_tuning_sql(),
    dedup_simhash: _simhash_sql(),
    dedup_embedding_cosine: DEDUP_EMBEDDING_SQL,
}
