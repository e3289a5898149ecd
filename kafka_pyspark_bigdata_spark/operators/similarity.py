"""Similarity search over embedding columns (array<float>).

Two paths:

- **Brute-force top-k** (`ann_topk_bruteforce`): broadcast the (small)
  query set against the corpus, compute cosine JVM-side with
  zip_with/aggregate (no Python in the loop), take top-k per query. Exact;
  cost O(|Q|·n) — the right baseline, and still the right answer at scale
  whenever |Q| is small because the corpus is scanned once, map-side only,
  with no shuffle of the corpus (the final top-k shuffles only |Q|·k rows).

- **LSH-bucketed** (`ann_lsh_bucketed`): random-hyperplane signatures
  (deterministic, seeded) bucket the corpus; each query searches only its
  bucket. Candidates drop from n to n/2^bits on average — the 100 TB path,
  trading recall for a bounded candidate set. The hyperplanes are literal
  constants, so the DuckDB oracle replicates the algorithm exactly.

- **IVF** (`ann_ivf`): inverted-file ANN — the standard coarse-quantizer
  design (Faiss-style IVF-Flat, public knowledge). Corpus vectors are
  assigned to their nearest of `IVF_NLIST` coarse centroids; each query
  probes its `IVF_NPROBE` nearest lists and scans only those candidates.
  Centroids here are the first `IVF_NLIST` corpus vectors (deterministic
  data-sampled init at every SF); at 100 TB they'd come from a k-means
  sample, but either way they are a broadcast-sized table: assignment is
  a broadcast cross join + partial-agg argmax (one small struct per
  corpus vector shuffled), and the probe join broadcasts |Q|·nprobe rows
  against the assigned corpus. The only all-to-all exchange is the final
  per-query top-k window over the candidate set.

All are value-exact against the oracle: cosine is computed in double and
rounded to 6 decimals (reduction error over 64 terms ~1e-14).

Each vector rule has one home. The double-precision rules live in
``dedup``: ``dot_expr``, ``norm_expr`` and ``cosine_from_parts`` (whose
composition is ``cosine_expr``), with ``_dot_sql`` / ``_ss_sql`` /
``_cos_sql`` as their oracle text. The fixed-point rules live here:
``round_grid`` (round(x·S)), ``floor_grid`` (FLOOR(x·S)) and
``half_up_grid`` (floor(x·S + 0.5), or of the unit vector x/‖x‖) quantize
an array to BIGINT at the caller's scale S; ``_int_dot_sql`` is the in-row
BIGINT dot; ``_long_array`` inlines driver-side integers (a mean, an
iterate, per-dim stats) as a literal array; ``_power_iterate`` runs the
fixed-point power iteration PCA and All-but-the-Top share; and
``_mean_cos_ppm`` is the mean pairwise cosine collapse. A divisor that is
zero on degenerate input — the norm of a zero vector, the n² − n pairs of
a one-row table, JL's ‖x‖² — gives NULL, as DuckDB's ``x / 0`` and
``x // 0`` do, where ANSI Spark would raise: the cosine divides with
``try_divide``, the unit quantizer too, and integer ratios divide by
``nullif(…, 0)``. NULL scores rank last in both engines, so a zero vector
never displaces a real neighbor. One exception is kept on purpose:
``_guarded_cos`` (the prefix and scalar-quantized variants) scores a pair
with a zero-norm side −2.0, because its oracles spell out that rule.

Shared building blocks (Spark side only; the oracle SQL spells each query
out in full): ``_query_corpus`` projects the query set (``vec_id <
N_QUERIES`` → query_id, qv, qn) and the corpus (neighbor_id, cv, cn);
``_pairs`` broadcasts the queries against the corpus without self pairs;
``_score`` adds the hoisted-norm cosine; ``_top_k`` keeps ranks 1..k per
group. ``_top_k`` owns the tie-break contract every ranking here shares
with its oracle: ``row_number`` over (score DESC, neighbor_id ASC), so
equal scores always resolve toward the smaller id. ``_ivf_sims``,
``_ivf_lists`` and ``_ivf_probes`` are the IVF coarse quantizer
(centroid similarities, argmax list assignment with ties toward the
smaller centroid id, per-query probe ranking). ``_recall_per_query`` and
``_recall_curve`` are the recall@k tails: a left join of one ranking
against the other on (query_id, neighbor_id) and an exact ``·10⁶ DIV``
ratio.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.batch import load_table, parallelize_scan
from .dedup import (
    COSINE_DUP_THRESHOLD,
    _cos_sql,
    _dot_sql,
    _ss_sql,
    cosine_expr,
    cosine_from_parts,
    dot_expr,
    norm_expr,
    sum_sq_expr,
)

TOP_K = 5
N_QUERIES = 10  # query set = vec_id < 10
LSH_BITS = 6
EMB_DIM = 64
_LSH_SEED = 7

# Deterministic hyperplanes, shared verbatim with the SQL oracle as literals.
_HYPERPLANES: list[list[float]] = [
    [float(x) for x in row]
    for row in np.random.RandomState(_LSH_SEED).standard_normal((LSH_BITS, EMB_DIM))
]


def _sign_bits(vec_col: str, planes: list[list[float]]) -> Column:
    """Σ 2^j over the planes j with a positive dot product: an SRP-LSH
    bucket id."""
    out = F.lit(0)
    for j, plane in enumerate(planes):
        dot = dot_expr(vec_col, F.array(*[F.lit(x) for x in plane]))
        out = out + F.when(dot > 0, F.lit(2**j)).otherwise(F.lit(0))
    return out.cast("int")


def _sign_bits_sql(vec_col: str, planes: list[list[float]]) -> str:
    """``_sign_bits`` as oracle SQL."""
    terms = []
    for j, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        dot = (
            f"list_sum(list_transform(list_zip({vec_col}, {lit}),"
            f" p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {2**j} ELSE 0 END")
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


def bucket_expr(vec_col: str) -> Column:
    """LSH bucket id: sign bits of the hyperplane dot products."""
    return _sign_bits(vec_col, _HYPERPLANES)


def _bucket_sql(vec_col: str) -> str:
    return _sign_bits_sql(vec_col, _HYPERPLANES)


# ---------------------------------------------------------------------------
# Shared fixed-point rules (see the module docstring)
# ---------------------------------------------------------------------------


def round_grid(col: str | Column, scale: int) -> Column:
    """Each element as round(x·scale) BIGINT (half away from zero)."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * scale, 0).cast("bigint")
    )


def floor_grid(col: str | Column, scale: int) -> Column:
    """Each element as FLOOR(x·scale) BIGINT."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * scale).cast("bigint"))


def half_up_grid(col: str | Column, scale: int, norm: Column | None = None) -> Column:
    """Each element as floor(x·scale + 0.5) BIGINT. Given ``norm``, each
    element of the unit vector x / norm instead: NULL for a zero norm."""

    def q(x: Column) -> Column:
        x = x.cast("double")
        if norm is not None:
            x = F.try_divide(x, norm)
        return F.floor(x * scale + F.lit(0.5)).cast("bigint")

    return F.transform(col, q)


def _round_grid_sql(col: str, scale: int) -> str:
    """``round_grid`` as oracle SQL."""
    return (
        f"list_transform({col}, x -> CAST(round(CAST(x AS DOUBLE)"
        f" * {scale}, 0) AS BIGINT))"
    )


def _int_dot_sql(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ of two BIGINT arrays, in-row (Spark SQL text)."""
    return (
        f"aggregate(zip_with({a}, {b}, (a, b) -> a * b),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _long_array(values) -> str:
    """Driver-side integers as a literal array<bigint> (Spark SQL text)."""
    return "array(" + ", ".join(f"{int(c)}L" for c in values) + ")"


def _power_iterate(rows: DataFrame, col: str, iters: int, v_scale: int) -> list[int]:
    """``iters`` rounds of v ← sign(z)·(|z|·v_scale DIV max|z|), z = Xᵀ(Xv),
    from the all-ones start, over the BIGINT vectors ``col`` of ``rows``.
    The iterate rides into the plan as a literal; y = x·v folds in-row
    (once per row, a plain column through the Generate) and z is a
    posexplode + one 64-key partial-agg shuffle in DECIMAL(38,0), so the
    sums cannot wrap. The normalization runs on 64 Python ints: floor
    division of nonnegative operands matches both engines' DIV."""
    v = [1] * EMB_DIM
    for _ in range(iters):
        y = F.expr(_int_dot_sql(col, _long_array(v)))
        z_rows = (
            rows.select(col, y.alias("y"))
            .select(F.posexplode(col).alias("dim", "x"), "y")
            .groupBy("dim")
            .agg(F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("z"))
            .collect()
        )
        z = [0] * EMB_DIM
        for r in z_rows:
            z[r.dim] = int(r.z)
        mz = max(abs(c) for c in z)
        v = [(1 if c > 0 else -1) * ((abs(c) * v_scale) // mz) if c else 0 for c in z]
    return v


def _mean_cos_ppm(sumsq: str, selfsq: str) -> Column:
    """Mean pairwise cosine in ppm of ``n_vecs`` unit vectors quantized at
    ISO_SCALE, from Σ_{i≠j} v̂ᵢ·v̂ⱼ = ‖Σv̂ᵢ‖² − Σ‖v̂ᵢ‖² (``sumsq`` −
    ``selfsq``): one integer division by the (n² − n)·ISO_SCALE pair
    count, widened to DECIMAL(38,0) before the square. NULL when there is
    no pair (n_vecs ≤ 1)."""
    return F.expr(
        f"CAST(({sumsq} - {selfsq})"
        f" div nullif((CAST(n_vecs AS DECIMAL(38,0)) * n_vecs - n_vecs)"
        f" * {ISO_SCALE}, 0) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# Shared search building blocks (see the module docstring)
# ---------------------------------------------------------------------------


def _query_corpus(emb: DataFrame, *extra) -> tuple[DataFrame, DataFrame]:
    """(queries, corpus): ``vec_id < N_QUERIES`` as (query_id, qv, qn) and
    every vector as (neighbor_id, cv, cn). Norms are computed once per
    vector, below the pair join. ``extra`` columns ride along on both
    sides (e.g. the bucket an equi-join keys on)."""
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm_expr("embedding").alias("qn"),
        *extra,
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        norm_expr("embedding").alias("cn"),
        *extra,
    )
    return q, c


def _pairs(q: DataFrame, c: DataFrame, *on: str) -> DataFrame:
    """Broadcast the |Q|-bounded query side against the corpus, equi-joined
    on ``on`` (a bucket or list id) or, without keys, all pairs. Self pairs
    are dropped. The corpus is never shuffled."""
    ne = F.col("query_id") != F.col("neighbor_id")
    if on:
        return F.broadcast(q).join(c, list(on)).filter(ne)
    return F.broadcast(q).join(c, ne)


def _cosine() -> Column:
    """6-decimal cosine of a (qv, qn) × (cv, cn) pair from hoisted norms."""
    return cosine_from_parts(dot_expr("qv", "cv"), F.col("qn"), F.col("cn"))


def _score(pairs: DataFrame, *keep) -> DataFrame:
    """(query_id, neighbor_id, *keep, cosine) of each pair."""
    return pairs.select("query_id", "neighbor_id", *keep, _cosine().alias("cosine"))


def _top_k(
    scored: DataFrame,
    *by: str,
    k: int = TOP_K,
    order: tuple[Column, ...] | None = None,
    rank: str = "rank",
) -> DataFrame:
    """Rows ranked 1..k within each ``by`` group (default: per query).
    ``order`` defaults to (cosine DESC, neighbor_id ASC): the id tie-break
    makes equal scores resolve the same way in Spark and in the oracle's
    ``ORDER BY score DESC, id``, so the kept set is engine-deterministic."""
    w = Window.partitionBy(*(by or ("query_id",))).orderBy(
        *(order or (F.desc("cosine"), F.asc("neighbor_id")))
    )
    return scored.withColumn(rank, F.row_number().over(w)).filter(
        F.col(rank) <= k
    )


def _recall_per_query(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Per query: k = |truth|, n_found = |truth ∩ approx| and recall_fp =
    n_found·10⁶ DIV k (fixed-point, engine-exact). A left join of the
    truth ranking against the approximate one on (query_id, neighbor_id):
    |Q|·k rows, nothing collected."""
    hits = approx.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        truth.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_found"),
        )
        .withColumn("recall_fp", F.expr("n_found * 1000000 DIV k"))
    )


def _recall_curve(approx: DataFrame, truth: DataFrame, by: str) -> DataFrame:
    """One row per ``by`` setting of an approximate search: n_sel rows
    returned, n_hits of them in ``truth``, n_truth = |truth| and
    recall_ppm = n_hits·10⁶ DIV n_truth."""
    hits = truth.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    total = hits.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        approx.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_sel"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
        .crossJoin(F.broadcast(total))
        .withColumn("recall_ppm", F.expr("n_hits * 1000000 DIV n_truth"))
    )


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each of the first 10 vectors."""
    q, c = _query_corpus(load_table(spark, sf_dir, "embeddings"))
    return _top_k(_score(_pairs(q, c))).orderBy("query_id", "rank")


ANN_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         {_cos_sql('qv', 'c.embedding')} AS cosine
  FROM q JOIN embeddings c ON query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: each query only scores corpus vectors in its own
    random-hyperplane bucket. Join key is the bucket id — a plain shuffle
    (or broadcast) equi-join; candidates per query shrink by ~2^bits."""
    q, c = _query_corpus(_with_bucket(spark, sf_dir), "bucket")
    return _top_k(_score(_pairs(q, c, "bucket"))).orderBy("query_id", "rank")


def _with_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, bucket): each vector's SRP-LSH bucket id."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", bucket_expr("embedding").alias("bucket")
    )


def _ann_lsh_sql() -> str:
    return f"""
WITH wb AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM wb WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         {_cos_sql('qv', 'c.embedding')} AS cosine
  FROM q JOIN wb c USING (bucket)
  WHERE query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


HN_K = 5  # hard negatives kept per query
HN_LO_PPM = 200_000  # band floor: below = easy negative, no training signal
HN_HI_PPM = 450_000  # band ceiling: above = near-dup risk (false negative)


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive embedding training — for
    each anchor, the top-K corpus vectors that are similar-but-not-
    duplicate: cosine inside [{HN_LO_PPM}, {HN_HI_PPM}) ppm. Random
    in-batch negatives are mostly too easy (cosine ≈ 0 teaches
    nothing); vectors ABOVE the band are near-dup/positive risks that
    would poison the loss as false negatives — the band is the
    public-recipe operating window (ANCE/RocketQA-style mining,
    public literature), made deterministic.

    Candidate generation is the 100 TB path, not brute force: anchors
    only score their own SRP-LSH bucket (``bucket_expr`` — the same
    hyperplane literals the oracle replays), so the join is a broadcast
    equi-join on bucket id and per-anchor work is corpus/2^bits. The
    band filter and the (cos_ppm DESC, neg_id) top-K window run on the
    bucket-bounded candidate set only. Exact ppm arithmetic end to end
    — hash-checked against the oracle's identical bucket + band + rank
    pipeline."""
    q, c = _query_corpus(_with_bucket(spark, sf_dir), "bucket")
    scored = _pairs(q, c, "bucket").select(
        "query_id",
        F.col("neighbor_id").alias("neg_id"),
        F.round(_cosine() * 1_000_000).cast("bigint").alias("cos_ppm"),
    )
    banded = scored.filter(
        (F.col("cos_ppm") >= HN_LO_PPM) & (F.col("cos_ppm") < HN_HI_PPM)
    )
    return _top_k(
        banded, k=HN_K, order=(F.desc("cos_ppm"), F.asc("neg_id"))
    ).orderBy("query_id", "rank")


def _hard_negatives_sql() -> str:
    return f"""
WITH wb AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM wb WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id AS neg_id,
         CAST(ROUND({_cos_sql('qv', 'c.embedding')} * 1000000) AS BIGINT) AS cos_ppm
  FROM q JOIN wb c USING (bucket)
  WHERE query_id <> c.vec_id
),
banded AS (
  SELECT * FROM scored WHERE cos_ppm >= {HN_LO_PPM} AND cos_ppm < {HN_HI_PPM}
),
ranked AS (
  SELECT query_id, neg_id, cos_ppm,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos_ppm DESC, neg_id
         ) AS INTEGER) AS rank
  FROM banded
)
SELECT query_id, neg_id, cos_ppm, rank FROM ranked
WHERE rank <= {HN_K} ORDER BY query_id, rank
"""


STAB_K = 8  # centroids per half in the stability probe


def cluster_stability_rand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTERING STABILITY eval — the Rand index / Adjusted Rand Index
    between two clusterings induced by DISJOINT deterministic centroid
    samples (the K smallest even vs odd vec_ids): if assigning the
    corpus to either sample's nearest centroid yields near-identical
    partitions, the cluster structure is a property of the DATA; if the
    two halves disagree, any single k-means run is an artifact of its
    init. This is the sample-split stability protocol (Ben-Hur et al.
    2002, public literature) reduced to its assignment step so the
    whole eval is closed-form EXACT: both indices come from the
    contingency table's pair counts — pure integer arithmetic, one
    final correctly-rounded double division each. The Spark side
    carries DOUBLED pair counts (``n·(n-1)`` without the ``/2`` —
    both indices are ratios, invariant under consistently doubling
    every term) so every step stays in DECIMAL(38,0): Spark's ``DIV``
    operator always returns BIGINT, so a ``dec * (nij-1) DIV 2``
    halving would silently downcast to LONG and overflow past ~4.3e9
    rows. With the halving gone the exactness ceiling is DECIMAL(38,0)
    itself (~10^38, i.e. corpora to ~10^9.5 rows for the ARI cross
    terms, matching the DuckDB HUGEINT oracle's own 128-bit bound).

    Plan: two broadcast-centroid argmax assignments (map-side cross
    join + one small-struct partial agg each — the ``ann_ivf``
    assignment shape), an id-keyed join of the two label columns, a
    (ca, cb) contingency agg over ≤ K² cells, then scalar arithmetic.
    Nothing after the two assignment aggs scales with the corpus.
    (r12: a one-map-pass variant — both labels as in-row array_max over
    collapsed centroid arrays, no vec_id join — was measured and
    reverted: HOF lambdas run interpreted and it timed 1.21 vs 1.14 s
    at sf0.1 against this codegen'd shape.)"""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", norm_expr("embedding").alias("en")
    )

    def assign(parity: int, out: str) -> DataFrame:
        cents = emb.filter(
            (F.col("vec_id") % 2 == parity) & (F.col("vec_id") < 2 * STAB_K)
        ).select(
            F.col("vec_id").cast("int").alias("cid"),
            F.col("embedding").alias("cv"),
            F.col("en").alias("cn"),
        )
        sims = emb.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "cid",
            cosine_from_parts(
                dot_expr("embedding", "cv"), F.col("en"), F.col("cn")
            ).alias("sim"),
        )
        return (
            sims.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(F.col("sim"), (-F.col("cid")).alias("nc"))
                ).alias("m")
            )
            .select("vec_id", (-F.col("m.nc")).cast("int").alias(out))
        )

    cont = (
        assign(0, "ca")
        .join(assign(1, "cb"), "vec_id")
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    # DOUBLED pair counts: snij2 = Σ nij(nij−1) = 2·Σ C(nij,2), and
    # likewise sa2/sb2/c22 — no DIV anywhere, so everything stays in
    # DECIMAL(38,0) (Spark's DIV would downcast to BIGINT). Both index
    # formulas below are the standard ones with every pair-count term
    # doubled; the doubling cancels in the ratios.
    dec = "CAST(nij AS DECIMAL(38,0))"
    stats = cont.agg(
        F.expr("CAST(SUM(nij) AS DECIMAL(38,0))").alias("n"),
        F.expr(f"SUM({dec} * (nij - 1))").alias("snij2"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    sa = (
        cont.groupBy("ca")
        .agg(F.sum("nij").alias("ai"))
        .agg(F.expr("SUM(CAST(ai AS DECIMAL(38,0)) * (ai - 1))").alias("sa2"))
    )
    sb = (
        cont.groupBy("cb")
        .agg(F.sum("nij").alias("bj"))
        .agg(F.expr("SUM(CAST(bj AS DECIMAL(38,0)) * (bj - 1))").alias("sb2"))
    )
    return (
        stats.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .selectExpr(
            "CAST(n AS BIGINT) AS n",
            f"CAST({STAB_K} AS INT) AS k",
            "CAST(n_cells AS BIGINT) AS n_cells",
            # c22 = n(n−1) = 2·c2; Rand = (c22 + 2·snij2 − sa2 − sb2)/c22
            "CAST(ROUND(CAST(n * (n - 1) + 2 * snij2 - sa2 - sb2 AS DOUBLE)"
            " / CAST(n * (n - 1) AS DOUBLE) * 1000000) AS BIGINT)"
            " AS rand_ppm",
            # ARI = 2(c22·snij2 − sa2·sb2) / (c22(sa2+sb2) − 2·sa2·sb2)
            # (same shape as the halved form — doubling cancels)
            "CAST(ROUND(CAST(2 * ((n * (n - 1)) * snij2 - sa2 * sb2) AS DOUBLE)"
            " / CAST((n * (n - 1)) * (sa2 + sb2) - 2 * sa2 * sb2 AS DOUBLE)"
            " * 1000000) AS BIGINT) AS ari_ppm",
        )
    )


CLUSTER_STABILITY_SQL = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings),
ca_cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM emb
  WHERE vec_id % 2 = 0 AND vec_id < {2 * STAB_K}
),
cb_cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM emb
  WHERE vec_id % 2 = 1 AND vec_id < {2 * STAB_K}
),
a AS (
  SELECT vec_id, cid AS ca FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid
           ) AS rn
    FROM emb e CROSS JOIN ca_cents c
  ) WHERE rn = 1
),
b AS (
  SELECT vec_id, cid AS cb FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid
           ) AS rn
    FROM emb e CROSS JOIN cb_cents c
  ) WHERE rn = 1
),
cont AS (
  SELECT ca, cb, COUNT(*) AS nij FROM a JOIN b USING (vec_id) GROUP BY 1, 2
),
stats AS (
  SELECT CAST(SUM(nij) AS HUGEINT) AS n,
         CAST(SUM(CAST(nij AS HUGEINT) * (nij - 1) // 2) AS HUGEINT) AS snij,
         COUNT(*) AS n_cells
  FROM cont
),
sa AS (
  SELECT CAST(SUM(CAST(ai AS HUGEINT) * (ai - 1) // 2) AS HUGEINT) AS sa
  FROM (SELECT SUM(nij) AS ai FROM cont GROUP BY ca)
),
sb AS (
  SELECT CAST(SUM(CAST(bj AS HUGEINT) * (bj - 1) // 2) AS HUGEINT) AS sb
  FROM (SELECT SUM(nij) AS bj FROM cont GROUP BY cb)
)
SELECT CAST(n AS BIGINT) AS n,
       CAST({STAB_K} AS INTEGER) AS k,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST(ROUND(CAST(n * (n - 1) // 2 + 2 * snij - sa - sb AS DOUBLE)
            / CAST(n * (n - 1) // 2 AS DOUBLE) * 1000000) AS BIGINT) AS rand_ppm,
       CAST(ROUND(CAST(2 * ((n * (n - 1) // 2) * snij - sa * sb) AS DOUBLE)
            / CAST((n * (n - 1) // 2) * (sa + sb) - 2 * sa * sb AS DOUBLE)
            * 1000000) AS BIGINT) AS ari_ppm
FROM stats, sa, sb
"""


MMR_K = 5  # results returned per query
MMR_POOL = 15  # relevance-ranked candidate pool fed to the greedy selector
# λ = 0.7 as exact integers: mmr_score = 7·rel_ppm − 3·maxsim_ppm (the
# common /10 is omitted — argmax is scale-invariant, and integer division
# of negatives rounds differently across engines: Spark `div` truncates,
# DuckDB `//` floors).
MMR_REL_W = 7
MMR_DIV_W = 3


def ann_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSIFIED top-K retrieval by Maximal Marginal Relevance
    (Carbonell & Goldstein 1998, public literature): greedily pick the
    candidate maximizing λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s) —
    the de-redundancy re-rank every RAG/serving stack applies so the
    K results aren't five paraphrases of the same document. Plain
    cosine top-K (``ann_topk_bruteforce``) is the relevance-only
    degenerate case; this is its λ=0.7 diversified counterpart.

    Scale shape: the expensive part — scoring the corpus — happens ONCE
    (broadcast query join, identical to the brute-force path; swap in
    any ANN candidate generator above it at 100 TB). The greedy loop is
    inherently sequential in K, so it runs INSIDE one
    ``applyInPandas`` over the plan-time-bounded pool (MMR_POOL rows
    per query): one shuffle on query_id, then the per-group kernel
    recomputes the pool's pairwise cosines with the oracle's
    dim-sequential float64 fold + half-away ppm rounding (the same
    exactness contract as the GEMM rescore path) and replays the greedy
    in exact int64 — no unrolled multi-stage rounds, no per-round
    scheduling overhead. Ties break on candidate id, so the greedy
    trajectory is engine-deterministic and the DuckDB oracle replays it
    move for move (unrolled CTEs)."""
    q, c = _query_corpus(load_table(spark, sf_dir, "embeddings"))
    scored = _pairs(q, c).select(
        "query_id",
        "neighbor_id",
        "cv",
        F.round(_cosine() * 1_000_000).cast("bigint").alias("rel_ppm"),
    )
    cand = _top_k(
        scored,
        k=MMR_POOL,
        order=(F.desc("rel_ppm"), F.asc("neighbor_id")),
        rank="rn",
    ).drop("rn")

    def mmr_group(pdf):
        V = np.array(pdf["cv"].tolist(), dtype=np.float64)
        n = len(pdf)
        norms = _fold_norms(V)
        # pairwise dots with the dim-SEQUENTIAL fold (outer product per
        # dim, accumulated in dim order — bit-identical to the scalar
        # fold the oracle's list_sum runs)
        acc = np.zeros((n, n))
        for t in range(V.shape[1]):
            acc = acc + V[:, t][:, None] * V[:, t][None, :]
        sim = _round_half_away(
            acc / (norms[:, None] * norms[None, :]) * 1_000_000
        ).astype(np.int64)
        rel = pdf["rel_ppm"].to_numpy(np.int64)
        ids = pdf["neighbor_id"].to_numpy(np.int64)
        qid = int(pdf["query_id"].iloc[0])
        avail = np.ones(n, dtype=bool)
        sel_idx: list[int] = []
        rows = []
        for r in range(1, min(MMR_K, n) + 1):
            if r == 1:
                score = MMR_REL_W * rel
            else:
                score = MMR_REL_W * rel - MMR_DIV_W * sim[:, sel_idx].max(
                    axis=1
                )
            order = np.lexsort((ids, -score))  # score DESC, cand_id ASC
            i = next(int(j) for j in order if avail[j])
            sel_idx.append(i)
            avail[i] = False
            rows.append((qid, int(ids[i]), int(rel[i]), int(score[i]), r))
        return pd.DataFrame(
            rows,
            columns=["query_id", "cand_id", "rel_ppm", "mmr_score", "rank"],
        )

    return (
        cand.groupBy("query_id")
        .applyInPandas(
            mmr_group,
            "query_id long, cand_id long, rel_ppm long, mmr_score long,"
            " rank int",
        )
        .orderBy("query_id", "rank")
    )


def _mmr_sql() -> str:
    rounds = []
    prev = "sel1"
    for r in range(2, MMR_K + 1):
        rounds.append(f""",
r{r} AS MATERIALIZED (
  SELECT c.query_id, c.cand_id, c.rel_ppm,
         {MMR_REL_W} * c.rel_ppm - {MMR_DIV_W} * MAX(p.sim_ppm) AS mmr_score
  FROM cand c
  JOIN psim p ON p.query_id = c.query_id AND p.ca = c.cand_id
  JOIN {prev} s ON s.query_id = p.query_id AND s.cand_id = p.cb
  WHERE NOT EXISTS (
    SELECT 1 FROM {prev} x
    WHERE x.query_id = c.query_id AND x.cand_id = c.cand_id
  )
  GROUP BY c.query_id, c.cand_id, c.rel_ppm
),
p{r} AS (
  SELECT query_id, cand_id, rel_ppm, mmr_score, CAST({r} AS INTEGER) AS rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY mmr_score DESC, cand_id
    ) AS rn FROM r{r}
  ) WHERE rn = 1
),
sel{r} AS MATERIALIZED (
  SELECT * FROM {prev} UNION ALL SELECT * FROM p{r}
)""")
        prev = f"sel{r}"
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT query_id, c.vec_id AS cand_id, c.embedding AS cv,
         CAST(ROUND({_cos_sql('qv', 'c.embedding')} * 1000000) AS BIGINT) AS rel_ppm
  FROM q JOIN embeddings c ON query_id <> c.vec_id
),
cand AS MATERIALIZED (
  SELECT query_id, cand_id, cv, rel_ppm FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY rel_ppm DESC, cand_id
    ) AS rn FROM scored
  ) WHERE rn <= {MMR_POOL}
),
psim AS MATERIALIZED (
  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
         CAST(ROUND({_cos_sql('a.cv', 'b.cv')} * 1000000) AS BIGINT) AS sim_ppm
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
),
sel1 AS MATERIALIZED (
  SELECT query_id, cand_id, rel_ppm,
         {MMR_REL_W} * rel_ppm AS mmr_score, CAST(1 AS INTEGER) AS rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY rel_ppm DESC, cand_id
    ) AS rn FROM cand
  ) WHERE rn = 1
){"".join(rounds)}
SELECT query_id, cand_id, rel_ppm, mmr_score, rank
FROM {prev} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Banded SRP-LSH embedding dedup (the scale path for near-dup PAIRS)
# ---------------------------------------------------------------------------

# Banded signed-random-projection LSH, structured exactly like MinHash
# banding (dedup.py): B bands of R sign bits each; a pair is a candidate if
# it matches in ANY band. Per-bit collision prob for angle θ is 1 - θ/π
# (Charikar's SimHash bound, public literature), so band match prob is
# p^R and any-band is 1-(1-p^R)^B. The fixtures' planted near-dups sit at
# cosine 0.45-0.51 (θ≈60°, p≈0.66) — a LOW-similarity regime, so the
# right operating point is few bits per band and several bands (3×8 here,
# seed chosen so every planted pair collides at sf0.01); at a production
# 0.9+ cosine threshold you would raise R for a much sharper candidate
# reduction. Unlike ann_lsh_bucketed (query-vs-corpus search), this
# generates candidate PAIRS corpus-wide — the dedup path.
DEDUP_LSH_BANDS = 8
DEDUP_LSH_BITS = 3
_DEDUP_LSH_SEED = 5

_DEDUP_PLANES: list[list[float]] = [
    [float(x) for x in row]
    for row in np.random.RandomState(_DEDUP_LSH_SEED).standard_normal(
        (DEDUP_LSH_BANDS * DEDUP_LSH_BITS, EMB_DIM)
    )
]


def _band_planes(band: int) -> list[list[float]]:
    return _DEDUP_PLANES[band * DEDUP_LSH_BITS : (band + 1) * DEDUP_LSH_BITS]


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.45) WITHOUT the all-pairs
    join: candidates come from a single self-equi-join on (band_idx,
    bucket) over the banded SRP signatures — O(n·B) shuffled rows plus the
    collided candidates, never n² by construction — then the exact cosine
    verifies each candidate. Same verify expression and threshold as
    ``dedup_embedding_cosine`` (the oracle baseline this must agree with
    on the planted pairs)."""
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    bands_long = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(
                *[_sign_bits("embedding", _band_planes(b)) for b in range(DEDUP_LSH_BANDS)]
            )
        ).alias("band_idx", "bk"),
    )
    lhs = bands_long.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm_expr("embedding").alias("na"),
        "band_idx",
        "bk",
    )
    rhs = bands_long.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm_expr("embedding").alias("nb"),
        "band_idx",
        "bk",
    )
    cand = (
        lhs.join(rhs, ["band_idx", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "na", "nb")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            cosine_from_parts(
                dot_expr("va", "vb"), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .orderBy("id_a", "id_b")
    )


def _dedup_lsh_sql() -> str:
    band_cols = ",\n         ".join(
        f"{_sign_bits_sql('embedding', _band_planes(b))} AS band{b}"
        for b in range(DEDUP_LSH_BANDS)
    )
    band_union = "\n  UNION ALL\n".join(
        f"  SELECT a.vec_id AS id_a, b.vec_id AS id_b"
        f" FROM bands a JOIN bands b ON a.band{b} = b.band{b}"
        f" AND a.vec_id < b.vec_id"
        for b in range(DEDUP_LSH_BANDS)
    )
    return f"""
WITH bands AS (
  SELECT vec_id, embedding,
         {band_cols}
  FROM embeddings
),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
{band_union}
  )
)
SELECT id_a, id_b, {_cos_sql('x.embedding', 'y.embedding')} AS cosine
FROM cand
JOIN embeddings x ON x.vec_id = id_a
JOIN embeddings y ON y.vec_id = id_b
WHERE {_cos_sql('x.embedding', 'y.embedding')} >= {COSINE_DUP_THRESHOLD}
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN
# ---------------------------------------------------------------------------

IVF_NLIST = 16
IVF_NPROBE = 4


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: top-5 per query, scanning only the query's IVF_NPROBE
    nearest centroid lists.

    The coarse quantizer is a broadcast of IVF_NLIST centroid rows; corpus
    list-assignment is a broadcast cross join (map-side, no corpus shuffle)
    followed by a partial-aggregated argmax (``max(struct(sim, -cid))``) —
    the shuffle carries exactly ONE small struct per corpus vector. The
    probe side ranks the same 16 similarities per query and keeps the
    IVF_NPROBE best lists; candidates come from a broadcast equi-join on
    list_id. A (query, neighbor) pair can appear in at most one probed
    list (each corpus vector lives in exactly one list), so no candidate
    dedup is needed before the final top-k window — the only all-to-all
    exchange in the plan. The plan contains no data-derived literals, so
    its generated code is reused across datasets (warm-up compiles it
    once).
    """
    sims = _ivf_sims(load_table(spark, sf_dir, "embeddings"))
    pairs = _pairs(_ivf_probes(sims, IVF_NPROBE), _ivf_lists(sims), "list_id")
    return _top_k(_score(pairs)).orderBy("query_id", "rank")


def _ivf_cents(emb: DataFrame) -> DataFrame:
    """The IVF_NLIST coarse centroids (cid, centv, cn): the first IVF_NLIST
    vectors of ``emb`` (vec_id, embedding, en)."""
    return emb.filter(F.col("vec_id") < IVF_NLIST).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").alias("centv"),
        F.col("en").alias("cn"),
    )


def _ivf_sims(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, en, cid, sim): every vector of the embeddings
    table ``emb`` against every coarse centroid — a broadcast cross join,
    map-side, no corpus shuffle."""
    emb = emb.select("vec_id", "embedding", norm_expr("embedding").alias("en"))
    # A zero vector's sims are all NULL (cosine_from_parts), so every
    # ranking of them falls through to the cid tie-break, as in the
    # oracle; a zero CENTROID puts one NULL among a vector's sims, which
    # every ranking puts last, as the oracle's ORDER BY sim DESC does.
    return emb.crossJoin(F.broadcast(_ivf_cents(emb))).select(
        "vec_id",
        "embedding",
        "en",
        "cid",
        cosine_from_parts(
            dot_expr("embedding", "centv"), F.col("en"), F.col("cn")
        ).alias("sim"),
    )


def _ivf_lists(sims: DataFrame) -> DataFrame:
    """(neighbor_id, cv, cn, list_id): each vector assigned to its nearest
    centroid's inverted list."""
    # argmax centroid per corpus vector: max struct orders by (sim, -cid),
    # i.e. highest similarity with ties toward the smallest centroid id —
    # the same ORDER BY sim DESC, cid contract as the SQL oracle.
    # group key is the 8-byte vec_id only — the embedding rides through
    # first() (all 16 rows of a group carry the identical array, so the
    # pick is value-deterministic) instead of hashing 256-byte array keys.
    # (r12: an IN-ROW array_max variant over a collapsed centroid array
    # was measured and REVERTED — higher-order-function lambdas execute
    # on the interpreted path, and the codegen'd crossJoin+partial-agg
    # was 1.17 vs 1.60 s at sf0.1. ann_ivf_spill keeps its in-row form
    # because there it replaces a full rank window, not a partial agg.)
    return (
        sims.groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("sim"), (-F.col("cid")).alias("ncid"))).alias("m"),
            F.first("embedding").alias("cv"),
            F.first("en").alias("cn"),
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "cv",
            "cn",
            (-F.col("m.ncid")).cast("int").alias("list_id"),
        )
    )


def _ivf_probes(sims: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, qv, qn, list_id, pr): each query's ``nprobe`` nearest
    lists, pr = probe rank 1..nprobe (sim DESC, cid ASC — the oracle's
    order)."""
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cid"))
    return (
        sims.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("en").alias("qn"),
            "cid",
            "sim",
        )
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cid").alias("list_id"), "pr")
    )


ANN_IVF_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_NLIST}
),
sims AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_cos_sql('e.embedding', 'c.cv')} AS sim
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, cid AS list_id FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM sims
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cid AS list_id FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM sims WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cosine
  FROM probes JOIN assigned USING (list_id)
  WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Fixed-point Lloyd k-means (IVF coarse-quantizer training)
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2
_KM_SCALE = 1_000_000  # embedding floats → fixed-point BIGINT


def cluster_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (K=8, 2 update iterations) over fixed-point scaled
    embeddings — the training step that would produce ``ann_ivf``'s
    coarse quantizer from a sample at 100 TB.

    All arithmetic is integer (floor-scaled vectors, BIGINT squared-L2,
    floor-division centroid updates), so the unrolled SQL oracle
    reproduces assignments bit-exactly — no float reduction order in any
    compared value. Plan shape per iteration: assignment is an IN-ROW
    argmin (``array_min`` over the broadcast 1-row centroid array — a
    pure map pass, zero corpus shuffle; r12 rewrite of the K-way
    crossJoin + groupBy(vec_id) argmin, which re-shuffled every vector
    per iteration), and the update is one partial-agg shuffle carrying
    64 BIGINT sums + a count per cluster per partition. The K×64
    centroid matrix collected per iteration is model state, not data —
    the same driver-side role as ``ml.trainer``'s fitted pipeline.

    Determinism notes: ties in the argmin break toward the smaller
    centroid id in both engines (struct ordering); the oracle's
    ``FLOOR(CAST(s AS DOUBLE)/n)`` equals Python's exact ``s // n``
    because |s| < 2^53 and the true quotient is never within a double
    ulp of an integer it doesn't equal (denominator ≤ corpus size).
    Empty clusters simply drop out of the next round's centroid list,
    identically on both sides.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # The scaled corpus is read by ITERS+1 assignment jobs; cache it once
    # — dim longs per row, the working set every k-means pins in memory.
    # ‖x‖² is hoisted alongside (one integer per row): with the exact
    # identity ‖x−c‖² = ‖x‖² + ‖c‖² − 2·x·c (BIGINT arithmetic — no
    # float rounding, so sq_dist is bit-identical to the oracle's direct
    # (a−b)² fold), each of the K per-pair distances costs one dot
    # product instead of a subtract-square-sum, and the two norms are
    # computed once per row / once per centroid instead of K× / n×.
    vecs = (
        emb.select("vec_id", floor_grid("embedding", _KM_SCALE).alias("v"))
        .withColumn("xx", F.expr(_int_dot_sql("v", "v")))
        .cache()
    )

    cents: list[tuple[int, list[int]]] = [
        (int(r["vec_id"]), [int(x) for x in r["v"]])
        for r in vecs.filter(F.col("vec_id") < KMEANS_K).collect()
    ]

    def assign(cents_: list[tuple[int, list[int]]]) -> DataFrame:
        # Centroids travel as a broadcast RELATION, not as literals: the
        # generated code is then identical across iterations, so Spark
        # compiles the assignment stage once and reuses it (literal
        # centroid arrays re-trigger whole-stage-codegen every round —
        # measured 2× slower end-to-end at sf0.1). r12: the K-row
        # relation collapses to ONE row holding the centroid array, so
        # the argmin is array_min over an in-row transform — the whole
        # assignment is a MAP pass (the cluster_kcenter_greedy shape);
        # previously the K-way crossJoin fed a groupBy(vec_id)
        # min(struct) that re-shuffled the full corpus (vector payload
        # included) every iteration. min(struct(d, cid)) and
        # array_min(struct(d, cid)) share the same lexicographic struct
        # ordering, so assignments and tie-breaks are identical.
        cents_df = spark.createDataFrame(
            [(cid, cv, sum(x * x for x in cv)) for cid, cv in cents_],
            "cid int, c array<bigint>, cc bigint",
        ).agg(F.collect_list(F.struct("cid", "c", "cc")).alias("cs"))
        best = F.expr(
            "array_min(transform(cs, s -> struct("
            f"xx + s.cc - 2 * {_int_dot_sql('v', 's.c')} AS d,"
            " s.cid AS cid)))"
        )
        return vecs.crossJoin(F.broadcast(cents_df)).select(
            "vec_id",
            "v",
            best["cid"].alias("cluster"),
            best["d"].alias("sq_dist"),
        )

    for _ in range(KMEANS_ITERS):
        assigned = assign(cents)
        rows = (
            assigned.groupBy("cluster")
            .agg(
                *[
                    F.sum(F.element_at("v", i + 1)).alias(f"s{i}")
                    for i in range(EMB_DIM)
                ],
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        cents = sorted(
            (
                int(r["cluster"]),
                [int(r[f"s{i}"]) // int(r["n"]) for i in range(EMB_DIM)],
            )
            for r in rows
        )

    return assign(cents).select("vec_id", "cluster", "sq_dist").orderBy("vec_id")


def _kmeans_sql() -> str:
    dist = (
        "list_sum(list_transform(list_zip(v, c),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    sql = f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS v
  FROM embeddings
),
c0 AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < {KMEANS_K})"""
    prev = "c0"
    for it in range(1, KMEANS_ITERS + 1):
        sql += f""",
a{it} AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT vecs.vec_id, vecs.v, {prev}.cid,
           ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                              ORDER BY {dist}, {prev}.cid) AS rn
    FROM vecs CROSS JOIN {prev}
  ) WHERE rn = 1
),
c{it} AS (
  SELECT cluster AS cid,
         list(CAST(FLOOR(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY dim) AS c
  FROM (
    SELECT cluster, dim, SUM(v[dim]) AS s, COUNT(*) AS n
    FROM a{it} CROSS JOIN (SELECT unnest(range(1, {EMB_DIM + 1})) AS dim) dims
    GROUP BY cluster, dim
  ) GROUP BY cluster
)"""
        prev = f"c{it}"
    sql += f"""
SELECT vec_id, CAST(cid AS INTEGER) AS cluster, CAST({dist} AS BIGINT) AS sq_dist FROM (
  SELECT vecs.vec_id, vecs.v, {prev}.c, {prev}.cid,
         ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                            ORDER BY {dist}, {prev}.cid) AS rn
  FROM vecs CROSS JOIN {prev}
) WHERE rn = 1 ORDER BY vec_id
"""
    return sql


# Prototype-pruning knobs: quantization grid for the exact integer L2,
# histogram bucket width over squared distances (coarse on purpose —
# selection is bucket-granular so the cut needs no per-row ranking),
# and the pruned fraction (Sorscher et al. keep ~70-80% in the
# abundant-data regime).
PROTO_SCALE = 1 << 10
PROTO_BUCKET = 1 << 16
PROTO_PRUNE_PPM = 300_000


def cluster_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototype data pruning (Sorscher et al. 2022, "Beyond neural
    scaling laws: beating power law scaling via data pruning"): rank
    each example by its distance to its cluster prototype and, in the
    abundant-data regime, DISCARD the most prototypical (easiest)
    examples — the published embedding-space pruning rung next to
    semantic dedup (``semdedup_bucketed`` removes near-duplicates; this
    removes the easy core). Prototypes here are the fixed seed set
    (vec_id < {KMEANS_K}, the same seeds ``cluster_kmeans_fixed``
    starts from); prototypicality is exact integer squared L2 on the
    2^10 quantization grid.

    Scale-first selection WITHOUT per-row ranking: a per-cluster
    row_number over the corpus is the skew trap (K partitions at
    100 TB), so the prune threshold comes from a (cluster, bucket)
    HISTOGRAM of coarse distance buckets (dist div 2^16): the cut is
    the largest bucket whose cumulative count stays within the
    {PROTO_PRUNE_PPM}-ppm target — cumulative counts are monotone, so
    the "≤ target" set is a bucket prefix and one prefix-sum window
    over the bounded ledger decides it. Selection is therefore
    bucket-granular (never exceeds the target; may undershoot by at
    most one bucket's population — the documented trade for a
    rank-free plan). Output is the per-cluster pruning audit.

    Plan shape: one embeddings scan → broadcast K-row prototype
    relation → partial-agg argmin (min(struct(dist, cid)) — one small
    struct per vector shuffled) → (cluster, bucket) partial agg into
    the bounded ledger → ledger-sized windows. No data-keyed window,
    no join back to the corpus: the audit is derivable from the
    histogram alone. (r12: the in-row array_min variant was measured
    ~equal-to-slower here — interpreted HOF lambdas vs this codegen'd
    agg — and the original shape was kept.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", floor_grid("embedding", PROTO_SCALE).alias("v")
    ).withColumn("xx", F.expr(_int_dot_sql("v", "v")))
    protos = vecs.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("v").alias("c"),
        F.col("xx").alias("cc"),
    )
    dot = F.expr(_int_dot_sql("v", "c"))
    assign = (
        vecs.crossJoin(F.broadcast(protos))
        .select(
            "vec_id",
            F.struct(
                (F.col("xx") + F.col("cc") - 2 * dot).alias("dist"),
                "cid",
            ).alias("dc"),
        )
        .groupBy("vec_id")
        .agg(F.min("dc").alias("m"))
        .select(
            F.col("m.cid").alias("cid"),
            F.expr(f"m.dist div {PROTO_BUCKET}").alias("bucket"),
        )
    )
    ledger = assign.groupBy("cid", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cid = Window.partitionBy("cid")
    w_cum = w_cid.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    audited = (
        ledger.withColumn("n_vecs", F.sum("cnt").over(w_cid))
        .withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn(
            "target_k", F.expr(f"n_vecs * {PROTO_PRUNE_PPM} div 1000000")
        )
    )
    return (
        audited.groupBy("cid")
        .agg(
            F.max("n_vecs").alias("n_vecs"),
            F.max("target_k").alias("target_k"),
            F.max(
                F.expr("CASE WHEN cum <= target_k THEN bucket"
                       " ELSE CAST(-1 AS BIGINT) END")
            ).alias("cut_bucket"),
            F.max(
                F.expr("CASE WHEN cum <= target_k THEN cum"
                       " ELSE CAST(0 AS BIGINT) END")
            ).alias("n_pruned"),
        )
        .withColumn(
            "kept_ppm",
            F.expr("(n_vecs - n_pruned) * 1000000 div n_vecs"),
        )
        .orderBy("cid")
    )


# Mahalanobis OOD knobs: quantization grid, per-dim contribution clamp
# (keeps the 64-term sum far from BIGINT range even on a near-constant
# dimension), and the audit size.
OOD_SCALE = 1 << 10
OOD_CLAMP = 1_000_000_000_000
OOD_TOP = 20


def emb_ood_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution scoring by class-conditional Mahalanobis
    distance (Lee et al. 2018, NeurIPS: "A Simple Unified Framework for
    Detecting Out-of-Distribution Samples..."), diagonal-covariance
    variant — the embedding-space OOD filter a curation pipeline runs
    to surface vectors that belong to NO labeled class (mislabeled,
    corrupted, or genuinely novel examples). A vector's score is its
    distance to the NEAREST class; the audit returns the {OOD_TOP}
    highest-scoring (most OOD) vectors.

    Exact rational form: with per-(label, dim) integer sums N, S = Σq,
    Q = Σq² on the 2^10 quantization grid, the studentized deviation is
    ``(x − μ)²/σ² = (N·q − S)² / (N·Q − S²)`` — numerator and
    denominator both integers, no mean or variance ever materialized
    as a float. Per-dim contributions are ppm-scaled truncating
    divisions, clamped at {OOD_CLAMP} (degenerate near-constant
    dimension guard: ``greatest(V, 1)`` plus the clamp), summed over
    the 64 dims in-row. Ties in the nearest-class argmin break toward
    the smaller label; the top list orders by score desc, vec_id.

    Plan shape: one embeddings scan → posexplode into the
    (label, dim)-keyed partial agg (the |labels|·64-row moment ledger —
    map-side collapse, the emb_label_centroids shape) → ledger
    re-assembled into per-label stat ARRAYS (bounded collect) →
    broadcast-crossJoin onto the quantized vectors → per-vector argmin
    struct-agg → one {OOD_TOP}-row TakeOrdered. At 100 TB the moment
    sums move to DECIMAL(38,0) (the docstring'd widening every moment
    ledger in this module shares); shape is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    quant = emb.select(
        "vec_id", "label", floor_grid("embedding", OOD_SCALE).alias("q")
    ).localCheckpoint(eager=False)
    # localCheckpoint: quant feeds the moment ledger AND the scoring
    # crossJoin — without the pin the scan + quantization runs twice.
    moments = (
        quant.select("label", F.posexplode("q").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.expr("v * v")).alias("qq"),
        )
    )
    stats = moments.groupBy("label").agg(
        F.max("n").alias("n"),
        F.expr(
            "transform(array_sort(collect_list(struct(dim, s))),"
            " p -> p.s)"
        ).alias("sa"),
        F.expr(
            "transform(array_sort(collect_list(struct(dim,"
            " n * qq - s * s))), p -> p.col2)"
        ).alias("va"),
    )
    dist = (
        f"aggregate(sequence(1, size(q)), CAST(0 AS BIGINT), (a, d) ->"
        f" a + least((n * element_at(q, CAST(d AS INT))"
        f"            - element_at(sa, CAST(d AS INT)))"
        f"         * (n * element_at(q, CAST(d AS INT))"
        f"            - element_at(sa, CAST(d AS INT))) * 1000000"
        f"      div greatest(element_at(va, CAST(d AS INT)),"
        f"                   CAST(1 AS BIGINT)),"
        f"      CAST({OOD_CLAMP} AS BIGINT)))"
    )
    scored = (
        quant.select("vec_id", "q")
        .crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.struct(
                F.expr(dist).alias("d"), F.col("label").alias("lbl")
            ).alias("dl"),
        )
        .groupBy("vec_id")
        .agg(F.min("dl").alias("m"))
        .select(
            "vec_id",
            F.col("m.lbl").alias("nearest_label"),
            F.col("m.d").alias("score_ppm"),
        )
    )
    return scored.orderBy(F.desc("score_ppm"), "vec_id").limit(OOD_TOP)


def _ood_mahalanobis_sql() -> str:
    dist = (
        f"CAST(list_sum(list_transform(range(1, len(q) + 1), d ->"
        f" LEAST((n * q[d] - sa[d]) * (n * q[d] - sa[d]) * 1000000"
        f"       // GREATEST(va[d], 1), {OOD_CLAMP}))) AS BIGINT)"
    )
    return f"""
WITH quant AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {OOD_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
moments AS (
  SELECT label, dim, COUNT(*) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(v * v) AS BIGINT) AS qq
  FROM (
    SELECT label, unnest(generate_series(1, len(q))) - 1 AS dim,
           unnest(q) AS v
    FROM quant)
  GROUP BY label, dim
),
stats AS (
  SELECT label, MAX(n) AS n,
         list(s ORDER BY dim) AS sa,
         list(n * qq - s * s ORDER BY dim) AS va
  FROM moments GROUP BY label
),
scored AS (
  SELECT vec_id, label AS nearest_label, d AS score_ppm FROM (
    SELECT q.vec_id, s.label, {dist} AS d,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, s.label) AS rn
    FROM quant q CROSS JOIN stats s
  ) WHERE rn = 1
)
SELECT vec_id, nearest_label, score_ppm
FROM scored ORDER BY score_ppm DESC, vec_id LIMIT {OOD_TOP}
"""


EMB_OOD_MAHALANOBIS_SQL = _ood_mahalanobis_sql()


def _proto_prune_sql() -> str:
    dist = (
        "list_sum(list_transform(list_zip(v, c),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
WITH vecs AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {PROTO_SCALE}) AS BIGINT)) AS v
  FROM embeddings
),
protos AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < {KMEANS_K}),
assigned AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vecs.vec_id, protos.cid, {dist} AS dist,
           ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                              ORDER BY {dist}, protos.cid) AS rn
    FROM vecs CROSS JOIN protos
  ) WHERE rn = 1
),
ledger AS (
  SELECT CAST(cid AS INTEGER) AS cid,
         CAST(dist // {PROTO_BUCKET} AS BIGINT) AS bucket,
         COUNT(*) AS cnt
  FROM assigned GROUP BY 1, 2
),
audited AS (
  SELECT cid, bucket, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY cid) AS BIGINT) AS n_vecs,
         CAST(SUM(cnt) OVER (PARTITION BY cid ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY cid) AS BIGINT)
           * {PROTO_PRUNE_PPM} // 1000000 AS target_k
  FROM ledger
)
SELECT cid, MAX(n_vecs) AS n_vecs, MAX(target_k) AS target_k,
       MAX(CASE WHEN cum <= target_k THEN bucket
           ELSE CAST(-1 AS BIGINT) END) AS cut_bucket,
       MAX(CASE WHEN cum <= target_k THEN cum
           ELSE CAST(0 AS BIGINT) END) AS n_pruned,
       (MAX(n_vecs) - MAX(CASE WHEN cum <= target_k THEN cum
                          ELSE CAST(0 AS BIGINT) END)) * 1000000
         // MAX(n_vecs) AS kept_ppm
FROM audited GROUP BY cid ORDER BY cid
"""


CLUSTER_PROTO_PRUNE_SQL = _proto_prune_sql()


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN against exact brute force, per
    query — measure, don't guess: the approximate path's quality is a
    query result, not a claim. recall_fp = |LSH∩BF| · 10^6 DIV k
    (fixed-point, engine-exact).

    Both paths reuse the operators above; the comparison is a left join
    of the exact top-k against the approximate result on (query,
    neighbor) — |Q|·k rows, driver-free."""
    return _recall_per_query(
        ann_topk_bruteforce(spark, sf_dir), ann_lsh_bucketed(spark, sf_dir)
    ).orderBy("query_id")


def _ann_recall_sql() -> str:
    bf = ANN_TOPK_SQL.strip().rstrip()
    lsh = _ann_lsh_sql().strip()
    return f"""
WITH bf AS ({bf}),
lsh AS ({lsh})
SELECT bf.query_id,
       COUNT(*) AS k,
       CAST(SUM(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_found,
       CAST((SUM(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS recall_fp
FROM bf LEFT JOIN lsh
  ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
GROUP BY bf.query_id ORDER BY bf.query_id
"""


# ---------------------------------------------------------------------------
# Multiprobe LSH (probe neighboring buckets instead of adding tables)
# ---------------------------------------------------------------------------

# Probe masks: the home bucket (xor 0) plus every Hamming-distance-1
# perturbation (flip one sign bit). 1 + LSH_BITS probes per query — the
# multiprobe trick (Lv et al., VLDB 2007, public literature): recover the
# recall that extra hash TABLES would buy by probing ADJACENT buckets of
# the one table, at zero extra index storage.
MP_MASKS: list[int] = [0] + [1 << j for j in range(LSH_BITS)]


def ann_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe-LSH top-5: each query scans its own SRP bucket PLUS the
    LSH_BITS buckets at Hamming distance 1 (one sign bit flipped) — the
    buckets a borderline vector most likely fell into.

    Scale shape: identical to ``ann_lsh_bucketed`` — the corpus is
    bucketed once (map-side, deterministic literal hyperplanes) and the
    probe side is a broadcast of |Q|·(1+bits) rows equi-joined on the
    bucket id; candidates grow from n/2^bits to (1+bits)·n/2^bits per
    query, still a vanishing fraction of the corpus at 100 TB. A corpus
    vector lives in exactly ONE bucket and the probe masks are distinct,
    so a (query, neighbor) pair appears at most once — no dedup needed
    before the final top-k window (the only all-to-all exchange)."""
    q, c = _query_corpus(_with_bucket(spark, sf_dir), "bucket")
    probes = q.select(
        "query_id",
        "qv",
        "qn",
        "bucket",
        F.explode(F.array(*[F.lit(m) for m in MP_MASKS])).alias("m"),
    ).select(
        "query_id",
        "qv",
        "qn",
        F.col("bucket").bitwiseXOR(F.col("m")).alias("bucket"),
    )
    return _top_k(_score(_pairs(probes, c, "bucket"))).orderBy("query_id", "rank")


def _ann_multiprobe_sql() -> str:
    masks = ", ".join(str(m) for m in MP_MASKS)
    return f"""
WITH wb AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, xor(bucket, m) AS bucket
  FROM wb CROSS JOIN (SELECT unnest([{masks}]) AS m) ms
  WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         {_cos_sql('qv', 'c.embedding')} AS cosine
  FROM probes JOIN wb c USING (bucket)
  WHERE query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# IVF nprobe→recall curve (the ANN tuning measurement)
# ---------------------------------------------------------------------------

NPROBE_LEVELS = [1, 2, 4, 8]  # lists probed per query, ≤ IVF_NLIST


def ann_ivf_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF TUNING CURVE — recall@{TOP_K} of IVF-Flat as a function of
    nprobe ∈ {NPROBE_LEVELS}, against exact brute-force ground truth.
    This is the measurement every ANN deployment makes before picking its
    operating point: recall rises with nprobe while scanned candidates
    grow linearly, and the curve says where the knee is.

    Scale shape: the sims/assignment stages are computed ONCE (identical
    to ``ann_ivf``: broadcast centroids, one small struct per corpus
    vector shuffled); each candidate carries its probe rank ``pr`` and is
    fanned out only to the levels with nprobe ≥ pr via an in-row array
    filter + explode (≤ |levels| copies of |Q|-bounded candidate rows —
    no re-scan per level, no extra corpus pass). Ground truth is the
    brute-force scan, also once. Everything downstream of the two scans
    is |Q|·k-sized."""
    sims = _ivf_sims(load_table(spark, sf_dir, "embeddings"))
    probes = _ivf_probes(sims, max(NPROBE_LEVELS))
    cand = _score(_pairs(probes, _ivf_lists(sims), "list_id"), "pr")
    # fan each candidate out to every level that would have probed its
    # list: an in-row array filter, not a join — the level table never
    # touches the shuffle.
    levels_arr = F.array(*[F.lit(l) for l in NPROBE_LEVELS])
    per_level = cand.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.explode(
            F.filter(levels_arr, lambda l: l >= F.col("pr"))
        ).alias("nprobe"),
    )
    approx = _top_k(per_level, "nprobe", "query_id").select(
        "nprobe", "query_id", "neighbor_id"
    )
    return (
        _recall_curve(approx, ann_topk_bruteforce(spark, sf_dir), "nprobe")
        .select("nprobe", "n_sel", "n_hits", "recall_ppm")
        .orderBy("nprobe")
    )


def _ann_ivf_nprobe_sql() -> str:
    levels = ", ".join(str(l) for l in NPROBE_LEVELS)
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_NLIST}
),
sims AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_cos_sql('e.embedding', 'c.cv')} AS sim
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, cid AS list_id FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM sims
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cid AS list_id, rn AS pr FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM sims WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {max(NPROBE_LEVELS)}
),
cand AS (
  SELECT query_id, neighbor_id, pr, {_cos_sql('qv', 'cv')} AS cosine
  FROM probes JOIN assigned USING (list_id)
  WHERE query_id <> neighbor_id
),
per_level AS (
  SELECT l.nprobe, c.query_id, c.neighbor_id, c.cosine
  FROM cand c JOIN (SELECT unnest([{levels}]) AS nprobe) l ON c.pr <= l.nprobe
),
approx AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT nprobe, query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY nprobe, query_id ORDER BY cosine DESC, neighbor_id
           ) AS rank
    FROM per_level
  ) WHERE rank <= {TOP_K}
),
bf AS ({{bf}}),
total AS (SELECT COUNT(*) AS bf_total FROM bf)
SELECT a.nprobe,
       COUNT(*) AS n_sel,
       CAST(SUM(CASE WHEN bf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST((SUM(CASE WHEN bf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
            // ANY_VALUE(total.bf_total) AS BIGINT) AS recall_ppm
FROM approx a
LEFT JOIN bf ON a.query_id = bf.query_id AND a.neighbor_id = bf.neighbor_id
CROSS JOIN total
GROUP BY a.nprobe ORDER BY a.nprobe
""".replace("{bf}", ANN_TOPK_SQL.strip())


# ---------------------------------------------------------------------------
# ann_ivf_spill — SPANN-style boundary replication (closure assignment)
# ---------------------------------------------------------------------------

SPILL_EPS = 0.05  # additive cosine margin for closure assignment
SPILL_MAX = 3     # max lists a corpus vector may join


def ann_ivf_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPANN-style boundary replication for IVF (Chen et al. 2021,
    public): assign each corpus vector not only to its nearest centroid
    but to EVERY centroid within an additive cosine margin of the best
    (capped at SPILL_MAX lists), so vectors near a Voronoi boundary
    live in all the lists a nearby query might probe. The query then
    probes a SINGLE list — SPANN's pitch is that closure assignment
    buys multi-probe recall at single-probe query cost, paying with a
    bounded storage blowup instead of query fan-out.

    Emits one row per config — ``baseline`` (classic 1-list assignment)
    and ``spill`` (closure assignment) — with the posting count, the
    replication factor in ppm, and recall@{k} against the brute-force
    ground truth, both at nprobe=1. The delta between the two rows IS
    the storage-for-recall trade.

    Scale shape: identical to ann_ivf up to assignment (broadcast
    centroid array, IN-ROW closure ranking — zero corpus shuffle; r12
    rewrite of the row_number+max window over the exploded sims);
    postings fan out at most SPILL_MAX×; config fan-out is an in-row
    array filter (no join); candidates stay |Q|-bounded broadcast
    equi-joins. At 100 TB the only growth vs ann_ivf is the ≤3×
    posting-list storage — exactly the knob SPANN trades.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    emb = raw.select("vec_id", "embedding", norm_expr("embedding").alias("en"))
    # closure assignment IN-ROW (r12): the centroid ranking per vector
    # is an array_sort of struct(-sim, cid) — ascending = (sim DESC,
    # cid ASC), exactly the previous window's ORDER BY — and the
    # rank/best-sim filter reads positions off that sorted array.
    # Previously this was a row_number + max window over the
    # 16×-exploded sims frame, i.e. a full-corpus shuffle carrying the
    # embedding payload; now the corpus never shuffles. Same doubles,
    # same comparisons, bit-identical postings. A NULL sim (a zero
    # centroid) would sort first inside the struct, so a leading
    # isnull flag sorts it last, as the oracle's ORDER BY sim DESC does.
    cents1 = _ivf_cents(emb).agg(
        F.collect_list(F.struct("cid", "centv", "cn")).alias("cs")
    )
    scored = F.transform(
        "cs",
        lambda c: F.struct(
            (
                -cosine_from_parts(
                    dot_expr("embedding", c["centv"]), F.col("en"), c["cn"]
                )
            ).alias("ns"),
            c["cid"].alias("cid"),
        ),
    )
    ranked_arr = F.array_sort(
        F.transform(
            scored,
            lambda e: F.struct(
                e["ns"].isNull().alias("nul"),
                e["ns"].alias("ns"),
                e["cid"].alias("cid"),
            ),
        )
    )
    posts_expr = (
        f"filter(transform(ranked_arr, (e, i) -> struct(-e.ns AS sim,"
        f" e.cid AS cid, i + 1 AS rn)),"
        f" p -> p.rn = 1 OR (p.rn <= {SPILL_MAX}"
        f" AND p.sim >= -element_at(ranked_arr, 1).ns"
        f" - CAST({SPILL_EPS} AS DOUBLE)))"
    )
    postings = (
        emb.crossJoin(F.broadcast(cents1))
        .select(
            "vec_id",
            "embedding",
            "en",
            ranked_arr.alias("ranked_arr"),
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
            F.col("en").alias("cn"),
            F.explode(F.expr(posts_expr)).alias("p"),
        )
        .select(
            "neighbor_id",
            "cv",
            "cn",
            F.col("p.cid").alias("list_id"),
            (F.col("p.rn") == 1).alias("is_primary"),
        )
        .localCheckpoint(eager=False)
    )
    cfgs = F.array(F.lit("baseline"), F.lit("spill"))
    in_cfg = F.explode(
        F.filter(cfgs, lambda c: (c == F.lit("spill")) | F.col("is_primary"))
    ).alias("config")
    probes = _ivf_probes(_ivf_sims(raw), 1)
    cand = _score(_pairs(probes, postings, "list_id"), in_cfg)
    approx = _top_k(cand, "config", "query_id").select(
        "config", "query_id", "neighbor_id"
    )
    store = (
        postings.select(in_cfg)
        .groupBy("config")
        .agg(F.count(F.lit(1)).alias("n_postings"))
    )
    n_vecs = postings.filter("is_primary").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    return (
        _recall_curve(approx, ann_topk_bruteforce(spark, sf_dir), "config")
        .join(store, "config")
        .crossJoin(F.broadcast(n_vecs))
        .select(
            "config",
            "n_postings",
            F.expr("n_postings * 1000000 DIV n_vecs").alias("repl_ppm"),
            "n_sel",
            "n_hits",
            "recall_ppm",
        )
        .orderBy("config")
    )


def _ann_ivf_spill_sql() -> str:
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {IVF_NLIST}
),
sims AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_cos_sql('e.embedding', 'c.cv')} AS sim
  FROM embeddings e CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, embedding, cid, sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn,
         MAX(sim) OVER (PARTITION BY vec_id) AS best
  FROM sims
),
postings AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, cid AS list_id,
         (rn = 1) AS is_primary
  FROM ranked
  WHERE rn = 1 OR (rn <= {SPILL_MAX} AND sim >= best - {SPILL_EPS})
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qv, cid AS list_id FROM (
    SELECT vec_id, embedding, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM sims WHERE vec_id < {N_QUERIES}
  ) WHERE rn = 1
),
cfg AS (SELECT UNNEST(['baseline', 'spill']) AS config),
cand AS (
  SELECT cfg.config, p.query_id, t.neighbor_id,
         {_cos_sql('p.qv', 't.cv')} AS cosine
  FROM probes p
  JOIN postings t USING (list_id)
  JOIN cfg ON cfg.config = 'spill' OR t.is_primary
  WHERE p.query_id <> t.neighbor_id
),
approx AS (
  SELECT config, query_id, neighbor_id FROM (
    SELECT config, query_id, neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY config, query_id ORDER BY cosine DESC, neighbor_id
           ) AS rank
    FROM cand
  ) WHERE rank <= {TOP_K}
),
store AS (
  SELECT cfg.config, COUNT(*) AS n_postings
  FROM postings t JOIN cfg ON cfg.config = 'spill' OR t.is_primary
  GROUP BY cfg.config
),
nv AS (SELECT COUNT(*) AS n_vecs FROM postings WHERE is_primary),
bf AS ({{bf}}),
total AS (SELECT COUNT(*) AS bf_total FROM bf)
SELECT a.config,
       ANY_VALUE(store.n_postings) AS n_postings,
       CAST(ANY_VALUE(store.n_postings) * 1000000 // ANY_VALUE(nv.n_vecs)
            AS BIGINT) AS repl_ppm,
       COUNT(*) AS n_sel,
       CAST(SUM(CASE WHEN bf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST((SUM(CASE WHEN bf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
            // ANY_VALUE(total.bf_total) AS BIGINT) AS recall_ppm
FROM approx a
LEFT JOIN bf ON a.query_id = bf.query_id AND a.neighbor_id = bf.neighbor_id
JOIN store ON store.config = a.config
CROSS JOIN nv
CROSS JOIN total
GROUP BY a.config ORDER BY a.config
""".replace("{bf}", ANN_TOPK_SQL.strip())


# ---------------------------------------------------------------------------
# ann_filtered_search — filtered vector search: post-filter fan-out curve
# ---------------------------------------------------------------------------

FILTER_KPRIMES = (5, 10, 20)  # post-filter shortlist depths (k, 2k, 4k)


def ann_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — the production ANN case where the query
    carries a predicate (here: neighbors must share the query's label,
    ~10% selectivity). The two standard strategies trade differently:
    PRE-filtering searches only matching vectors (exact recall, but the
    index must support the predicate); POST-filtering takes a global
    top-k' shortlist and filters it, losing whatever matching neighbors
    the shortlist missed (the Filtered-DiskANN / vector-DB literature's
    core problem, public). This query measures the post-filter recall
    curve: one row per shortlist depth k' ∈ {FILTER_KPRIMES} with
    recall against the exact pre-filtered ground truth — the curve that
    tells you how much shortlist fan-out a given selectivity forces.

    Scale shape: ONE broadcast-query corpus scan scores every
    (query, neighbor) pair once (the pinned frame feeds both the
    ground-truth window and the shortlist windows); k'-fan-out is an
    in-row array filter + explode bounded by max(k') rows per query;
    everything downstream is |Q|·k'-sized. At 100 TB the scan is the
    same map-side pass ann_topk_bruteforce makes — the filter adds no
    exchange.
    """
    q, c = _query_corpus(load_table(spark, sf_dir, "embeddings"), "label")
    q = q.withColumnRenamed("label", "q_label")
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    wm = Window.partitionBy("query_id", "match").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    scored = (
        _score(_pairs(q, c), (F.col("q_label") == F.col("label")).alias("match"))
        .withColumn("rg", F.row_number().over(wq))
        .withColumn("rm", F.row_number().over(wm))
        .localCheckpoint(eager=False)
    )
    truth = scored.filter(F.col("match") & (F.col("rm") <= TOP_K))
    kp_arr = F.array(*[F.lit(k) for k in FILTER_KPRIMES])
    shortlisted = (
        scored.filter(F.col("match") & (F.col("rg") <= max(FILTER_KPRIMES)))
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.explode(
                F.filter(kp_arr, lambda kp: kp >= F.col("rg"))
            ).alias("kprime"),
        )
    )
    approx = _top_k(shortlisted, "kprime", "query_id").select(
        "kprime", "query_id", "neighbor_id"
    )
    return _recall_curve(approx, truth, "kprime").orderBy("kprime")


ANN_FILTERED_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS q_label
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         (q.q_label = e.label) AS match,
         {_cos_sql('q.qv', 'e.embedding')} AS cosine
  FROM q JOIN embeddings e ON q.query_id <> e.vec_id
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rg,
         ROW_NUMBER() OVER (PARTITION BY query_id, match
                            ORDER BY cosine DESC, neighbor_id) AS rm
  FROM scored
),
truth AS (
  SELECT query_id, neighbor_id FROM ranked
  WHERE match AND rm <= {TOP_K}
),
total AS (SELECT COUNT(*) AS n_truth FROM truth),
shortlisted AS (
  SELECT kp.kprime, r.query_id, r.neighbor_id, r.cosine
  FROM ranked r
  JOIN (SELECT UNNEST([{", ".join(str(k) for k in FILTER_KPRIMES)}]) AS kprime) kp
    ON r.rg <= kp.kprime
  WHERE r.match
),
approx AS (
  SELECT kprime, query_id, neighbor_id FROM (
    SELECT kprime, query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY kprime, query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM shortlisted
  ) WHERE rank <= {TOP_K}
)
SELECT a.kprime,
       COUNT(*) AS n_sel,
       CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       ANY_VALUE(total.n_truth) AS n_truth,
       CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // ANY_VALUE(total.n_truth) AS BIGINT) AS recall_ppm
FROM approx a
LEFT JOIN truth t
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
CROSS JOIN total
GROUP BY a.kprime ORDER BY a.kprime
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (dimension-reduction quality eval)
# ---------------------------------------------------------------------------

MRL_DIM = 16  # truncated prefix length (of EMB_DIM=64)


def emb_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of TRUNCATED-dimension retrieval against full-dimension
    retrieval: rank neighbors by cosine over only the first 16 of 64
    embedding dims and measure how much of the true (full-dim) top-5 the
    prefix recovers, per query — the evaluation behind
    Matryoshka-representation (MRL) deployments, where a prefix of the
    vector serves cheap first-stage retrieval (public method:
    Kusupati et al. 2022). A 4x dim cut means 4x less ANN-index memory
    and bandwidth at 100 TB; this query tells you what recall that buys.

    Plan shape: two broadcast-query scans of the corpus (one per dim
    width — same map-side top-k shape as ann_topk_bruteforce) joined on
    (query, neighbor); |Q|·k rows reach the final aggregate."""
    q, c = _query_corpus(load_table(spark, sf_dir, "embeddings"))
    pairs = _pairs(q, c)
    # full-width scoring reuses the hoisted norms; truncated-dim scoring
    # (MRL) norms its own slices inside cosine_expr
    trunc = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_expr(
            F.slice("qv", 1, MRL_DIM), F.slice("cv", 1, MRL_DIM)
        ).alias("cosine"),
    )
    return _recall_per_query(_top_k(_score(pairs)), _top_k(trunc)).orderBy(
        "query_id"
    )


def _mrl_sql() -> str:
    def topk_sql(avec: str, bvec: str) -> str:
        return f"""
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, cvs.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_cos_sql(avec, bvec)} DESC, cvs.vec_id
           ) AS rank
    FROM embeddings q JOIN embeddings cvs ON q.vec_id <> cvs.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K}"""

    return f"""
WITH fullk AS ({topk_sql('q.embedding', 'cvs.embedding')}),
trunc AS ({topk_sql(f'q.embedding[1:{MRL_DIM}]', f'cvs.embedding[1:{MRL_DIM}]')})
SELECT f.query_id, COUNT(*) AS k,
       CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_found,
       CAST((SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS recall_fp
FROM fullk f LEFT JOIN trunc t
  ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
GROUP BY f.query_id ORDER BY f.query_id
"""


# ---------------------------------------------------------------------------
# Power-iteration PCA (distributed iterative linear algebra, engine-exact)
# ---------------------------------------------------------------------------

PCA_ITERS = 3
PCA_X_SCALE = 1 << 10  # embedding quantization (exact for the verify)
PCA_V_SCALE = 1 << 10  # iterate normalization target


def emb_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding matrix by POWER ITERATION
    (v ← normalize(Xᵀ(Xv)), 3 unrolled rounds from the all-ones start) —
    the distributed iterative-linear-algebra shape behind PCA whitening,
    spectral embedding dims, and eigencentrality, expressed entirely as
    joins and 64-key aggregations.

    Exactness (what makes this hash-checkable across engines): X is
    quantized once to integers (round(x·2^10)); each X·v dot is then
    BIGINT and each Xᵀy per-dim reduction DECIMAL(38,0) arithmetic —
    associative, order-independent; the normalization v ← sign(z)·(|z|·2^10 DIV
    max|z|) keeps DIV operands nonnegative so Spark's truncating DIV and
    DuckDB's flooring // agree. No floats anywhere until nowhere.

    Scale shape per iteration: the iterate rides into the plan as a
    64-long literal; y = x·v is an in-row zip_with fold (computed once
    per ROW, not per element — it passes through the Generate as a
    column), and z = Xᵀy is a posexplode + 64-key partial-agg shuffle
    (64 rows per task cross the wire). r12: this replaced a per-round
    groupBy(vec_id) + join-back pair — two full-corpus exchanges per
    round on a 64×-exploded frame — with one map pass and a metadata-
    sized exchange. State is the 64-element vector, never the
    matrix."""
    base = (
        load_table(spark, sf_dir, "embeddings")
        .select(round_grid("embedding", PCA_X_SCALE).alias("xq"))
        # consumed by PCA_ITERS round jobs — pin so the scan+quantize tree
        # derives once; lazy so the first round materializes it in-line
        .localCheckpoint(eager=False)
    )
    v = _power_iterate(base, "xq", PCA_ITERS, PCA_V_SCALE)
    return (
        spark.createDataFrame(
            [(d, int(c)) for d, c in enumerate(v)], "dim int, v_fp long"
        )
        .orderBy("dim")
    )


def _pca_sql() -> str:
    prev = f"SELECT UNNEST(range(0, {EMB_DIM})) AS dim, CAST(1 AS BIGINT) AS vc"
    ctes = [
        f"e AS (SELECT vec_id,\n"
        f"       unnest(generate_series(1, len(embedding))) AS pos,\n"
        f"       CAST(round(CAST(unnest(embedding) AS DOUBLE) * {PCA_X_SCALE}, 0)"
        f" AS BIGINT) AS xv\n"
        f"  FROM embeddings)",
        f"v0 AS ({prev})",
    ]
    for i in range(PCA_ITERS):
        ctes.append(
            f"y{i} AS (\n"
            f"  SELECT e.vec_id, CAST(SUM(e.xv * v.vc) AS BIGINT) AS y\n"
            f"  FROM e JOIN v{i} v ON e.pos - 1 = v.dim\n"
            f"  GROUP BY e.vec_id)"
        )
        ctes.append(
            f"z{i} AS (\n"
            f"  SELECT e.pos - 1 AS dim, CAST(SUM(e.xv * y{i}.y) AS BIGINT) AS z\n"
            f"  FROM e JOIN y{i} USING (vec_id)\n"
            f"  GROUP BY 1)"
        )
        ctes.append(
            f"v{i + 1} AS (\n"
            f"  SELECT dim, CAST(CASE WHEN z = 0 THEN 0 ELSE\n"
            f"    (CASE WHEN z > 0 THEN 1 ELSE -1 END)\n"
            f"    * ((abs(z) * {PCA_V_SCALE}) // (SELECT MAX(abs(z)) FROM z{i}))\n"
            f"    END AS BIGINT) AS vc\n"
            f"  FROM z{i})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(dim AS INTEGER) AS dim, vc AS v_fp"
        f" FROM v{PCA_ITERS} ORDER BY dim"
    )


# ---------------------------------------------------------------------------
# Product quantization + asymmetric distance (IVF-PQ's compression half)
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64 dims → 8 × 8-dim subvectors)
PQ_SUB = EMB_DIM // PQ_M
PQ_SCALE = 1 << 10


def _pq_cents(emb: DataFrame) -> DataFrame:
    """Integer codebook: per-(label, dim) centroid, decimal-exact mean
    quantized to round(c·2^10) — labels double as the per-subspace code
    ids (a deterministic, SQL-replicable stand-in for the per-subspace
    k-means a production PQ trains; same plan shape either way)."""
    vals = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    per_dim = vals.groupBy("label", "dim").agg(
        F.sum(
            F.expr(f"CAST(CAST(val AS DOUBLE) * {_FP_SCALE} AS DECIMAL(38,0))")
        ).alias("s_fp"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_dim.select(
        F.col("label").alias("code"),
        "dim",
        F.round(
            F.col("s_fp").cast("double") / F.lit(float(_FP_SCALE)) / F.col("n")
            * PQ_SCALE,
            0,
        )
        .cast("long")
        .alias("c_fp"),
    )


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the compression half of IVF-PQ (Jégou et al. 2011, public method):
    each corpus vector is ENCODED as 8 sub-codes (nearest codebook
    entry per 8-dim subspace), and a query scores a corpus vector by
    summing its per-subspace distances TO THE CODES, never touching the
    original vector — at 100 TB the scan reads 8 small ints per vector
    instead of 64 floats (16× less IO), and the per-query distance
    table (|codes|·M entries) is computed once and broadcast.

    All arithmetic is integer fixed-point (vectors and codebook
    quantized at 2^10; distances are exact BIGINT sums of squares), so
    encoding, distance tables, and the final ranking hash-match the
    oracle. Plan: codebook broadcast → per-vector per-subspace argmin
    (map-side fanout × |codes|, one (vec, subspace) partial agg) →
    code join against the broadcast distance table → per-query top-k
    window over |Q|·n small rows."""
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    cents = _pq_cents(emb).localCheckpoint()
    xint = emb.select(
        "vec_id",
        F.posexplode(round_grid("embedding", PQ_SCALE)).alias("dim", "x_fp"),
    )
    sub = F.expr(f"dim DIV {PQ_SUB}")
    # encode: nearest code per (vector, subspace), min-code tie-break
    enc = (
        xint.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", sub.alias("m"), "code")
        .agg(F.sum(
            (F.col("x_fp") - F.col("c_fp")) * (F.col("x_fp") - F.col("c_fp"))
        ).alias("d"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d", "code")).alias("best"))
        .select("vec_id", "m", F.col("best.code").alias("code"))
    )
    # per-query distance table to every (subspace, code)
    dtab = (
        xint.filter(F.col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cents), "dim")
        .groupBy("query_id", sub.alias("m"), "code")
        .agg(F.sum(
            (F.col("x_fp") - F.col("c_fp")) * (F.col("x_fp") - F.col("c_fp"))
        ).alias("d"))
    )
    scored = (
        enc.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(dtab), ["m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist_fp"))
    )
    return _top_k(
        scored, order=(F.asc("adc_dist_fp"), F.asc("neighbor_id"))
    ).orderBy("query_id", "rank")


def _pq_sql() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) - 1 AS dim,
         unnest(embedding) AS val
  FROM embeddings
),
cents AS (
  SELECT label AS code, dim,
         CAST(round(CAST(SUM(CAST(CAST(val AS DOUBLE) * {_FP_SCALE}
                               AS DECIMAL(38,0))) AS DOUBLE)
                    / {float(_FP_SCALE)!r} / COUNT(*) * {PQ_SCALE}, 0)
              AS BIGINT) AS c_fp
  FROM v GROUP BY label, dim
),
xint AS (
  SELECT vec_id, dim,
         CAST(round(CAST(val AS DOUBLE) * {PQ_SCALE}, 0) AS BIGINT) AS x_fp
  FROM v
),
enc_d AS (
  SELECT x.vec_id, x.dim // {PQ_SUB} AS m, c.code,
         SUM((x.x_fp - c.c_fp) * (x.x_fp - c.c_fp)) AS d
  FROM xint x JOIN cents c USING (dim)
  GROUP BY 1, 2, 3
),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
    FROM enc_d
  ) WHERE rn = 1
),
dtab AS (
  SELECT vec_id AS query_id, m, code, d FROM enc_d
  WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT t.query_id, e.vec_id AS neighbor_id,
         CAST(SUM(t.d) AS BIGINT) AS adc_dist_fp
  FROM enc e JOIN dtab t ON e.m = t.m AND e.code = t.code
  WHERE e.vec_id <> t.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist_fp, rank FROM (
  SELECT query_id, neighbor_id, adc_dist_fp,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_dist_fp, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PQ-ADC ranking against the exact brute force — the
    measurement that justifies (or vetoes) the 16× scan compression:
    per query, how much of the true top-5 the code-based ranking
    recovers. Same join-of-two-rankings shape as ann_recall_eval; both
    inputs reuse their operators' plans verbatim."""
    return _recall_per_query(
        ann_topk_bruteforce(spark, sf_dir), ann_pq_adc(spark, sf_dir)
    ).orderBy("query_id")


def _pq_recall_sql() -> str:
    return f"""
WITH bf AS ({ANN_TOPK_SQL.strip()}),
pq AS ({_pq_sql().strip()})
SELECT bf.query_id, COUNT(*) AS k,
       CAST(SUM(CASE WHEN pq.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_found,
       CAST((SUM(CASE WHEN pq.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1000000) // COUNT(*) AS BIGINT) AS recall_fp
FROM bf LEFT JOIN pq
  ON bf.query_id = pq.query_id AND bf.neighbor_id = pq.neighbor_id
GROUP BY bf.query_id ORDER BY bf.query_id
"""


def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gram matrix XᵀX of the embedding corpus (upper triangle,
    integer fixed-point) — the 64×64 summary that covariance, PCA
    whitening, and ridge-regression normal equations all start from,
    and the canonical "big n, small d" distributed reduction: each row
    contributes its 2,080 upper-triangle products map-side, the shuffle
    carries only |dims|² accumulators per partition, and the result is
    dimension-sized however big the corpus is.

    Same quantization as emb_pca_power_iter (round(x·2^10) → BIGINT), so
    every product and sum is exact integer arithmetic — order-free,
    hash-checkable. Plan: one posexplode self-join per row bounded by
    i <= j (in-row, no shuffle), one (i, j)-keyed partial agg."""
    xs = round_grid("embedding", PCA_X_SCALE)
    e = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(xs).alias("i", "xi"), xs.alias("xs")
    )
    pairs = e.select(
        "i",
        "xi",
        F.posexplode("xs").alias("j", "xj"),
    ).filter(F.col("j") >= F.col("i"))
    return (
        pairs.groupBy("i", "j")
        .agg(F.sum(F.col("xi") * F.col("xj")).alias("gram_fp"))
        .orderBy("i", "j")
    )


# (vec_id, i, xi): one row per embedding cell on the PCA grid (oracle SQL)
_GRID_CELLS_SQL = f"""WITH e AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) - 1 AS i,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * {PCA_X_SCALE}, 0)
              AS BIGINT) AS xi
  FROM embeddings
)"""


def _gram_sql() -> str:
    return f"""
{_GRID_CELLS_SQL}
SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
       CAST(SUM(a.xi * b.xi) AS BIGINT) AS gram_fp
FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY 1, 2 ORDER BY i, j
"""


# ---------------------------------------------------------------------------
# Linear CKA between the two dimension halves (representation alignment)
# ---------------------------------------------------------------------------

CKA_SPLIT = 32  # dims [0, 32) = view X, dims [32, 64) = view Y


def emb_cka_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear Centered Kernel Alignment between the embedding's two
    dimension halves — the representation-similarity audit (Kornblith
    et al., ICML 2019) behind "can I truncate / which layers agree":
    CKA(X, Y) = ‖Xc'Yc‖²_F / (‖Xc'Xc‖_F · ‖Yc'Yc‖_F) over
    column-centered views, 1.0 = same geometry up to rotation/scale.
    Here the views are dims [0,{CKA_SPLIT}) vs [{CKA_SPLIT},64) — the
    question MRL truncation asks (does the tail half encode anything
    the head half doesn't?).

    EXACT distributed form: quantize to integer fixed point
    (round(x·2^10), the emb_gram_matrix convention), then every centered
    Gram entry comes from raw sums via C = n·Σxy − Σx·Σy — no per-row
    centering pass. The raw sums are PER-PARTITION GEMM PARTIALS: each
    ``mapInPandas`` task folds its Arrow batches into one d×d integer
    XᵀX (float64 BLAS per batch — exact, since a batch's Σxᵢxⱼ is
    < 2⁵³ — accumulated across batches in int64) plus column sums and a
    count, then emits ONE upper-triangle frame (d²/2 rows) per task. The
    shuffle carries partitions·d²/2 accumulator rows — never row-scaled —
    into a (i,j)-keyed agg, then a d²-row final fold. The fold squares
    the SCALE-FREE reduced moment r = |C| div n² (≈ S²·cov,
    corpus-size-independent, < 2²¹): every term and every sum then stays
    below 2⁵³, so BIGINT arithmetic is exact AND the final cast to
    double is exact in both engines — casting a wider decimal to double
    turned out to differ by 1 ulp between Spark (Java BigDecimal) and
    DuckDB (int128), which is why the fold deliberately never leaves
    53-bit territory. The corpus is read ONCE; everything after the map
    side is dimension-sized. (The expression-tree twin of the GEMM
    stage — double posexplode + (i,j) partial agg — is what
    emb_gram_matrix keeps; at d=64 it shuffles d²/2 rows per ROW GROUP
    worth of input instead of per task, ~30× more map-side work.)"""
    scale = float(PCA_X_SCALE)

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        gram = None
        colsum = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = _round_half_away(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * scale
            )
            g = x.T @ x  # exact: batch Σ|xi·xj| << 2^53
            if gram is None:
                gram = g.astype(np.int64)
                colsum = x.sum(axis=0).astype(np.int64)
            else:
                gram += g.astype(np.int64)
                colsum += x.sum(axis=0).astype(np.int64)
            n += len(pdf)
        if n == 0:
            return
        d = gram.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": iu.astype(np.int32),
                "j": ju.astype(np.int32),
                "g": gram[iu, ju],
                "si": colsum[iu],
                "sj": colsum[ju],
                "n": np.full(len(iu), n, dtype=np.int64),
            }
        )

    stats = (
        load_table(spark, sf_dir, "embeddings")
        .select("embedding")
        .mapInPandas(gram_partials, "i int, j int, g long, si long, sj long, n long")
        .groupBy("i", "j")
        .agg(
            F.sum("g").alias("g"),
            F.sum("si").alias("si"),
            F.sum("sj").alias("sj"),
            F.sum("n").alias("n"),
        )
    )
    # centered cross-moment (scaled by n): C = n·G − Si·Sj, exact BIGINT;
    # reduced |C| div n² is scale-free (≈ S²·cov) so its square sums
    # stay under 2^53 at any corpus size
    cent = stats.select(
        "i",
        "j",
        "n",
        F.expr("abs(n * g - si * sj) div (n * n)").alias("r"),
    )
    sq = F.col("r") * F.col("r")
    w_sym = F.when(F.col("i") == F.col("j"), F.lit(1)).otherwise(F.lit(2))
    in_x = F.col("j") < CKA_SPLIT          # i <= j < split  → XX block
    in_y = F.col("i") >= CKA_SPLIT         # split <= i <= j → YY block
    in_xy = (F.col("i") < CKA_SPLIT) & (F.col("j") >= CKA_SPLIT)
    folded = cent.agg(
        F.max("n").alias("n_vecs"),
        F.sum(F.when(in_xy, sq).otherwise(F.lit(0))).alias("hsic_xy"),
        F.sum(F.when(in_x, w_sym * sq).otherwise(F.lit(0))).alias("hsic_xx"),
        F.sum(F.when(in_y, w_sym * sq).otherwise(F.lit(0))).alias("hsic_yy"),
    )
    return folded.select(
        "n_vecs",
        F.col("hsic_xy").cast("long").alias("hsic_xy"),
        F.col("hsic_xx").cast("long").alias("hsic_xx"),
        F.col("hsic_yy").cast("long").alias("hsic_yy"),
        # NULL, as in the oracle, when a view has no variance (one row)
        F.try_divide(
            F.col("hsic_xy").cast("double"),
            F.sqrt(F.col("hsic_xx").cast("double") * F.col("hsic_yy").cast("double")),
        ).alias("cka"),
    )


def _cka_sql() -> str:
    return f"""
{_GRID_CELLS_SQL},
stats AS (
  SELECT a.i, b.i AS j,
         CAST(SUM(a.xi * b.xi) AS BIGINT) AS g,
         CAST(SUM(a.xi) AS BIGINT) AS si,
         CAST(SUM(b.xi) AS BIGINT) AS sj,
         COUNT(*) AS n
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
  GROUP BY 1, 2
),
cent AS (
  SELECT i, j, n, abs(n * g - si * sj) // (n * n) AS r FROM stats
),
folded AS (
  SELECT MAX(n) AS n_vecs,
         CAST(SUM(CASE WHEN i < {CKA_SPLIT} AND j >= {CKA_SPLIT}
                  THEN r * r ELSE 0 END) AS BIGINT) AS hsic_xy,
         CAST(SUM(CASE WHEN j < {CKA_SPLIT}
                  THEN (CASE WHEN i = j THEN 1 ELSE 2 END) * r * r
                  ELSE 0 END) AS BIGINT) AS hsic_xx,
         CAST(SUM(CASE WHEN i >= {CKA_SPLIT}
                  THEN (CASE WHEN i = j THEN 1 ELSE 2 END) * r * r
                  ELSE 0 END) AS BIGINT) AS hsic_yy
  FROM cent
)
SELECT CAST(n_vecs AS BIGINT) AS n_vecs, hsic_xy, hsic_xx, hsic_yy,
       CAST(hsic_xy AS DOUBLE)
         / sqrt(CAST(hsic_xx AS DOUBLE) * CAST(hsic_yy AS DOUBLE)) AS cka
FROM folded
"""


# ---------------------------------------------------------------------------
# Per-label embedding centroids (decimal-exact distributed vector mean)
# ---------------------------------------------------------------------------


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column plus the centroid's L2
    norm — the class-prototype computation under nearest-centroid
    classification, IVF quantizer seeding, and embedding-drift monitoring.

    Distributed mean of a vector column: ``posexplode`` to (label, dim,
    val) rows, then one partial aggregation keyed by (label, dim). The
    key space is tiny (labels x 64 dims), so at 100 TB virtually all
    reduction happens map-side and the shuffle moves only
    |labels| * dim * n_partitions accumulators. All reductions run in
    exact integer fixed-point (val * 2^40 is integral for the corpus'
    float32 range), so they are order-independent and engine-exact with
    no rounding anywhere; sqrt applies to a final double (IEEE-exact,
    portable).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    # val * 2^40 is an exact integer for every float32 in the corpus'
    # exponent range (double multiply by a power of two is exact), so the
    # DECIMAL(38,0) accumulation never rounds — base-10 tie-rounding of a
    # double->decimal cast is where cross-engine drift creeps in.
    per_dim = vals.groupBy("label", "dim").agg(
        F.sum(
            F.expr(f"CAST(CAST(val AS DOUBLE) * {_FP_SCALE} AS DECIMAL(38,0))")
        ).alias("s_fp"),
        F.count(F.lit(1)).alias("n"),
    )
    per_dim = per_dim.select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        (F.col("s_fp").cast("double") / F.lit(float(_FP_SCALE)) / F.col("n")).alias(
            "centroid"
        ),
        "n",
    )
    # Norm of the 1e-6-quantized centroid: quantizing to an integer first
    # keeps the sum of squares in exact BIGINT arithmetic (m < 1e7, 64
    # terms < 1e16), so the reduction is order-independent by construction.
    quant = per_dim.withColumn(
        "m", F.round(F.col("centroid") * 1000000, 0).cast("long")
    )
    norms = quant.groupBy("label").agg(
        (F.sqrt(F.sum(F.col("m") * F.col("m")).cast("double")) / 1000000.0).alias(
            "centroid_norm"
        ),
        F.max("n").cast("long").alias("n_vecs"),
    )
    return (
        per_dim.join(F.broadcast(norms), "label")
        .select("label", "dim", "centroid", "centroid_norm", "n_vecs")
        .orderBy("label", "dim")
    )


_FP_SCALE = 2**40


EMB_CENTROIDS_SQL = f"""
WITH v AS (
  SELECT label,
         unnest(generate_series(1, len(embedding))) - 1 AS dim,
         unnest(embedding) AS val
  FROM embeddings
),
per_dim AS (
  SELECT label, CAST(dim AS BIGINT) AS dim,
         SUM(CAST(CAST(val AS DOUBLE) * {_FP_SCALE} AS DECIMAL(38,0))) AS s_fp,
         COUNT(*) AS n
  FROM v GROUP BY label, dim
),
cent AS (
  SELECT label, dim,
         CAST(s_fp AS DOUBLE) / {float(_FP_SCALE)!r} / n AS centroid, n
  FROM per_dim
),
norms AS (
  SELECT label,
         sqrt(CAST(SUM(CAST(round(centroid * 1000000, 0) AS BIGINT)
                       * CAST(round(centroid * 1000000, 0) AS BIGINT)) AS DOUBLE))
           / 1000000.0 AS centroid_norm,
         CAST(MAX(n) AS BIGINT) AS n_vecs
  FROM cent GROUP BY label
)
SELECT c.label, c.dim, c.centroid, n.centroid_norm, n.n_vecs
FROM cent c JOIN norms n USING (label)
ORDER BY label, dim
"""


# ---------------------------------------------------------------------------
# Corpus-wide kNN graph (LSH-blocked)
# ---------------------------------------------------------------------------

KNN_K = 3


def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the whole corpus: each
    vector's top-3 cosine neighbors among its own LSH bucket — the
    index-construction primitive behind graph-based retrieval (NSW/HNSW
    bootstrap), dedup clustering, and label propagation.

    Unlike ann_* (a small query set vs the corpus), both sides here are
    the full corpus, so the all-pairs form is O(n^2) and unusable. The
    bucket equi-join bounds candidates to within-bucket (~n/2^bits per
    probe); the shuffle key is the 6-bit bucket id, hot buckets are
    handled by AQE skew-join splitting, and the per-source top-k is a
    bounded window over candidate rows only. For higher recall at scale,
    add banded multi-probe exactly as dedup_embedding_lsh does — same
    plan shape, B band keys instead of 1.
    """
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    wb = emb.select("vec_id", "embedding", bucket_expr("embedding").alias("bucket"))
    left = wb.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("sv"),
        norm_expr("embedding").alias("sn"),
        "bucket",
    )
    right = wb.select(
        F.col("vec_id").alias("dst_id"),
        F.col("embedding").alias("dv"),
        norm_expr("embedding").alias("dn"),
        "bucket",
    )
    scored = (
        left.join(right, "bucket")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select(
            "src_id",
            "dst_id",
            cosine_from_parts(
                dot_expr("sv", "dv"), F.col("sn"), F.col("dn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("dst_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= KNN_K)
        .orderBy("src_id", "rank")
    )


def _knn_graph_sql() -> str:
    return f"""
WITH wb AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         {_cos_sql('a.embedding', 'b.embedding')} AS cosine
  FROM wb a JOIN wb b USING (bucket)
  WHERE a.vec_id <> b.vec_id
),
ranked AS (
  SELECT src_id, dst_id, cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY src_id ORDER BY cosine DESC, dst_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT src_id, dst_id, cosine, rank FROM ranked
WHERE rank <= {KNN_K} ORDER BY src_id, rank
"""


# ---------------------------------------------------------------------------
# Scalar (int8-style) embedding quantization with reconstruction error
# ---------------------------------------------------------------------------

_Q_SCALE = 2**20  # float -> fixed-point BIGINT pre-scale
Q_LEVELS = 255  # quantization levels (int8-style codebook)


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min/max scalar quantization of the embedding column
    to 255 levels (the int8 compression every 100 TB vector store applies
    before ANN indexing), plus exact per-vector reconstruction error.

    Phase 1 computes the 64-row per-dim (min, max) stats: posexplode +
    partial agg — the shuffle moves only dim-keyed accumulators. The
    stats are collected (64 tiny rows, the same driver-literal pattern as
    the k-means centroids) and re-enter the plan as literal arrays, so
    phase 2 is a single NARROW map pass: zip_with against the literal
    arrays computes codes and errors per vector with no explode, no
    re-shuffle, no UDF — at 100 TB this pipelines straight into the sink.

    All arithmetic is integer after one deterministic round(v * 2^20)
    fixed-pointing: codes use (d * 255) DIV range, reconstruction uses
    (q * range) DIV 255, errors are BIGINT — order-independent and
    engine-exact; the only doubles are final exact divisions.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v_int = round_grid("embedding", _Q_SCALE)
    stats = (
        emb.select(F.posexplode(v_int).alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .orderBy("dim")
        .collect()
    )
    lo_arr = _long_array(r.lo for r in stats)
    rng_arr = _long_array(max(r.hi - r.lo, 1) for r in stats)
    out = (
        emb.select("vec_id", "label", v_int.alias("v_int"))
        .withColumn("d", F.expr(f"zip_with(v_int, {lo_arr}, (a, b) -> a - b)"))
        .withColumn(
            "q", F.expr(f"zip_with(d, {rng_arr}, (a, r) -> (a * {Q_LEVELS}) DIV r)")
        )
        .withColumn(
            "err",
            F.expr(
                f"zip_with(d, zip_with(q, {rng_arr}, (a, r) -> (a * r) DIV {Q_LEVELS}),"
                " (a, b) -> abs(a - b))"
            ),
        )
        .select(
            "vec_id",
            "label",
            F.expr(
                "aggregate(zip_with(q, sequence(1, size(q)), (a, i) -> a * i),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("code_checksum"),
            F.expr("aggregate(err, 0L, (acc, x) -> acc + x)").alias("total_abs_err"),
            F.expr("array_max(err)").alias("max_abs_err"),
            (
                F.expr("aggregate(err, 0L, (acc, x) -> acc + x)").cast("double")
                / F.expr("size(err)").cast("double")
                / F.lit(float(_Q_SCALE))
            ).alias("mean_abs_err"),
        )
        .orderBy("vec_id")
    )
    return out


EMB_QUANTIZE_SQL = f"""
WITH v AS (
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) AS dim1,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * {_Q_SCALE}, 0) AS BIGINT) AS v
  FROM embeddings
),
stats AS (
  SELECT dim1, MIN(v) AS lo, GREATEST(MAX(v) - MIN(v), 1) AS rng
  FROM v GROUP BY dim1
),
coded AS (
  SELECT vec_id, label, v.dim1,
         (v - lo) AS d,
         ((v - lo) * {Q_LEVELS}) // rng AS q, rng
  FROM v JOIN stats USING (dim1)
),
errs AS (
  SELECT vec_id, label, dim1, q,
         abs(d - (q * rng) // {Q_LEVELS}) AS err
  FROM coded
)
SELECT vec_id, MIN(label) AS label,
       CAST(SUM(q * dim1) AS BIGINT) AS code_checksum,
       CAST(SUM(err) AS BIGINT) AS total_abs_err,
       MAX(err) AS max_abs_err,
       CAST(SUM(err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / {float(_Q_SCALE)!r}
         AS mean_abs_err
FROM errs GROUP BY vec_id ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Arrow-vectorized pandas_udf batch scoring (the sanctioned UDF fallback)
# ---------------------------------------------------------------------------

PUDF_TOP = 20
_PUDF_SEED = 11
# Deterministic literal query vector, shared verbatim with the oracle.
_PUDF_QUERY: list[float] = [
    float(x) for x in np.random.RandomState(_PUDF_SEED).standard_normal(EMB_DIM)
]


def ann_dot_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus vectors by fixed-point dot product with a literal
    query vector, scored inside a SCALAR `@pandas_udf` — the repo's one
    deliberate demonstration of the Arrow-vectorized UDF fallback (the
    slot a real pipeline fills with a model-forward pass or a compiled
    scorer that genuinely can't be expressed as built-ins).

    Exactness across the Python/JVM boundary: floats are fixed-pointed to
    int64 (round-half-away, matching SQL `round`) and the dot product is
    an integer accumulation — no float-summation-order dependence, so the
    numpy result hash-matches DuckDB exactly. Plan shape: ArrowEvalPython
    over corpus batches (embarrassingly parallel, no shuffle) followed by
    a global top-k (TakeOrdered — only k rows cross the exchange).
    """
    from pyspark.sql.functions import pandas_udf

    q_fp = np.array(
        [int(_away_round(x * _Q_SCALE)) for x in _PUDF_QUERY], dtype=np.int64
    )

    @pandas_udf("bigint")
    def dot_fp(emb: pd.Series) -> pd.Series:
        def one(v) -> int:
            a = np.asarray(v, dtype=np.float64) * _Q_SCALE
            a_fp = (np.sign(a) * np.floor(np.abs(a) + 0.5)).astype(np.int64)
            return int(np.dot(a_fp, q_fp))

        return emb.map(one)

    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        "label",
        (dot_fp("embedding").cast("double") / F.lit(float(_Q_SCALE) ** 2)).alias(
            "dot"
        ),
    )
    return scored.orderBy(F.desc("dot"), F.asc("vec_id")).limit(PUDF_TOP)


def _away_round(x: float) -> float:
    import math

    return math.copysign(math.floor(abs(x) + 0.5), x)


def _pudf_sql() -> str:
    q_fp_sql = "[" + ", ".join(
        str(int(_away_round(x * _Q_SCALE))) for x in _PUDF_QUERY
    ) + "]::BIGINT[]"
    return f"""
WITH scored AS (
  SELECT vec_id, label,
         CAST(list_sum(list_transform(
                 list_zip(embedding, {q_fp_sql}),
                 p -> CAST(round(CAST(p[1] AS DOUBLE) * {_Q_SCALE}, 0) AS BIGINT)
                      * p[2])) AS DOUBLE)
           / {float(_Q_SCALE) ** 2!r} AS dot
  FROM embeddings
)
SELECT vec_id, label, dot FROM scored
ORDER BY dot DESC, vec_id LIMIT {PUDF_TOP}
"""


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic dedup (keep/drop decision per item)
# ---------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = COSINE_DUP_THRESHOLD


def semdedup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (cluster → within-cluster cosine →
    keep/drop), the corpus-curation step that removes semantically
    redundant training examples (public method: Abbas et al. 2023,
    "SemDeDup"; the paper clusters with k-means — here the cluster
    assignment is the deterministic 6-bit SRP bucket shared with
    ``ann_lsh_bucketed`` so both engines agree bit-wise).

    Decision rule, exact and order-free: an item is DROPPED iff some
    LOWER-id item in its bucket has cosine >= threshold (min-id is the
    kept representative). Unlike the pair lists (`dedup_embedding_*`),
    the output is the actionable per-item verdict: (vec_id, cluster,
    n_dup_lower, keep).

    Scale shape: bucket assignment is a map-side projection; the only
    join is the within-bucket self-join — O(Σ per-bucket²) bounded by
    bucket granularity, never corpus², and the final left join against
    the drop list shuffles one small boolean per id. More buckets (or a
    k-means quantizer feeding the same shape) tightens the bound at
    higher corpus sizes.
    """
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding", bucket_expr("embedding").alias("cluster")
    )
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm_expr("embedding").alias("na"),
        "cluster",
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm_expr("embedding").alias("nb"),
        "cluster",
    )
    drops = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_from_parts(dot_expr("va", "vb"), F.col("na"), F.col("nb"))
            >= SEMDEDUP_THRESHOLD
        )
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_dup_lower"))
    )
    return (
        emb.join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("n_dup_lower", F.lit(0)).alias("n_dup_lower"),
            (F.coalesce("n_dup_lower", F.lit(0)) == 0).alias("keep"),
        )
        .orderBy("vec_id")
    )


def _semdedup_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS cluster
  FROM embeddings
),
drops AS (
  SELECT b.vec_id, COUNT(*) AS n_dup_lower
  FROM e a JOIN e b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {SEMDEDUP_THRESHOLD}
  GROUP BY b.vec_id
)
SELECT e.vec_id, e.cluster,
       COALESCE(d.n_dup_lower, 0) AS n_dup_lower,
       (COALESCE(d.n_dup_lower, 0) = 0) AS keep
FROM e LEFT JOIN drops d ON e.vec_id = d.vec_id
ORDER BY e.vec_id
"""


# --- Johnson-Lindenstrauss random-projection distortion eval ---------------

JL_OUT_DIM = 16
_JL_SCALE = 2**10  # fixed-point scale: keeps proj_sq * 1e6 BIGINT-safe


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 projection matrix (md5-derived, engine-free:
    generated once in Python and inlined as literals into BOTH the Spark
    expression and the SQL oracle — the same literal-matrix pattern as
    the LSH hyperplanes)."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"jl_{j}_{i}".encode()).digest()[0] % 2 == 0
            else -1
            for i in range(EMB_DIM)
        ]
        for j in range(JL_OUT_DIM)
    ]


def emb_jl_projection_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketching eval: project the 64-dim embedding
    onto {JL_OUT_DIM} deterministic ±1 directions and measure per-vector
    norm distortion ||Px||² / (k·||x||²) — the JL lemma says this
    concentrates near 1, and this query MEASURES it per vector (in ppm),
    completing the embedding-compression family (PCA = data-dependent,
    MRL = prefix truncation, PQ/int8 = quantization, JL = oblivious
    projection — the one that needs no training pass).

    Entirely narrow: fixed-point the vector once (scale 2^10), then each
    output dim is an exact BIGINT dot product with a ±1 literal row via
    ``zip_with``+``aggregate`` — no explode, no shuffle except the final
    orderBy; distortion is integer-ppm DIV. At 100 TB this is a map-only
    pass that pipelines into the sink."""
    dots = [_int_dot_sql("v", _long_array(row)) for row in _jl_signs()]
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", round_grid("embedding", _JL_SCALE).alias("v"))
        .select(
            "vec_id",
            F.expr(_int_dot_sql("v", "v")).alias("x_sq"),
            F.expr(" + ".join(f"{d} * {d}" for d in dots)).alias("proj_sq"),
        )
        .select(
            "vec_id",
            "x_sq",
            "proj_sq",
            # NULL for a zero vector, as the oracle's x // 0
            F.expr(
                f"proj_sq * 1000000 DIV nullif({JL_OUT_DIM} * x_sq, 0)"
            ).alias("distortion_ppm"),
        )
        .orderBy("vec_id")
    )


def _jl_sql() -> str:
    signs = _jl_signs()
    proj_terms = " + ".join(
        f"list_dot_product(v, {row})::BIGINT * list_dot_product(v, {row})::BIGINT"
        for row in signs
    )
    return f"""
WITH vi AS (
  SELECT vec_id,
         [CAST(round(CAST(x AS DOUBLE) * {_JL_SCALE}, 0) AS BIGINT)
          FOR x IN embedding] AS v
  FROM embeddings
),
s AS (
  SELECT vec_id,
         list_dot_product(v, v)::BIGINT AS x_sq,
         CAST({proj_terms} AS BIGINT) AS proj_sq
  FROM vi
)
SELECT vec_id, x_sq, proj_sq,
       CAST(proj_sq * 1000000 // ({JL_OUT_DIM} * x_sq) AS BIGINT)
         AS distortion_ppm
FROM s ORDER BY vec_id
"""


def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index LIFECYCLE: build the coarse-quantizer assignment once,
    PERSIST it partitioned by list id, and answer queries from the
    on-disk index — the "build once, query many" shape a production ANN
    service runs (the in-plan ``ann_ivf`` rebuilds per query).

    The index lands as parquet `partitionBy(list_id)`: each inverted
    list is its own partition directory, so a probe that wants
    IVF_NPROBE of IVF_NLIST lists reads exactly those directories —
    partition pruning does the "inverted file" seek, and at 100 TB the
    unprobed ~75% of the corpus is never opened. Results are identical
    to ``ann_ivf`` by construction (same assignment argmax, same probe
    ranking), so the same SQL oracle verifies the whole lifecycle.
    """
    import os

    from ..sources.batch import scratch_dir

    sims = _ivf_sims(load_table(spark, sf_dir, "embeddings"))
    idx_path = os.path.join(scratch_dir("ivf_index", sf_dir), "index")
    # the persisted index stores each vector's norm alongside it — what a
    # real IVF index ships so query-time scoring never recomputes it
    _ivf_lists(sims).write.mode("overwrite").partitionBy("list_id").parquet(
        idx_path
    )
    # query time: rank centroid sims for the query set only, then read
    # ONLY the probed lists from the persisted index
    idx = spark.read.parquet(idx_path)
    pairs = _pairs(_ivf_probes(sims, IVF_NPROBE), idx, "list_id")
    return _top_k(_score(pairs)).orderBy("query_id", "rank")


def ann_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list BALANCE audit: per-list sizes plus the skew
    ratios an ANN operator watches in production — an unbalanced
    quantizer makes probe latency the max list, not the mean, and the
    fix (re-train centroids, split hot lists) starts from exactly this
    table. One row per list with its share and max/mean ppm ratio; the
    assignment argmax is the same broadcast-relation pass as
    ``ann_ivf``, so the audit costs one aggregation over it."""
    assign = _ivf_lists(_ivf_sims(load_table(spark, sf_dir, "embeddings")))
    sizes = assign.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_vecs"))
    tot = sizes.agg(
        F.sum("n_vecs").alias("n_total"), F.max("n_vecs").alias("n_max")
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .select(
            "list_id",
            "n_vecs",
            F.expr("n_vecs * 1000000 div n_total").alias("share_ppm"),
            F.expr(f"n_max * {IVF_NLIST} * 1000000 div n_total").alias(
                "max_over_mean_ppm"
            ),
        )
        .orderBy("list_id")
    )


def _ivf_balance_sql() -> str:
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  WHERE vec_id < {IVF_NLIST}
),
sims AS (
  SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.cv')} AS sim
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cid AS list_id FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM sims
  ) WHERE rn = 1
),
sizes AS (SELECT list_id, COUNT(*) AS n_vecs FROM assign GROUP BY 1),
tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n_total,
               CAST(MAX(n_vecs) AS BIGINT) AS n_max FROM sizes)
SELECT CAST(list_id AS INTEGER) AS list_id, n_vecs,
       n_vecs * 1000000 // n_total AS share_ppm,
       n_max * {IVF_NLIST} * 1000000 // n_total AS max_over_mean_ppm
FROM sizes, tot ORDER BY list_id
"""


NORM_BUCKET_SCALE = 10  # bucket = floor(norm * 10): 0.1-wide norm bands


def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality gate: the L2-norm distribution of the corpus in
    0.1-wide bands — the screen that catches degenerate vectors (zero or
    near-zero norms from failed encodes, exploding norms from training
    bugs) BEFORE they poison cosine-based dedup/ANN downstream.

    Pure scan-side expression tree (zip-free: transform + aggregate per
    row) followed by one partial-agg shuffle of |bands| keys. Norms are
    rounded to 6 decimals (same engine-portable contract as
    ``cosine_expr``) so the band edges are bit-identical in both engines.
    """
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings"))
    return (
        emb.select(F.round(norm_expr("embedding"), 6).alias("norm"))
        .groupBy(
            F.floor(F.col("norm") * NORM_BUCKET_SCALE).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
        .orderBy("bucket")
    )


EMB_NORM_SQL = f"""
WITH norms AS (
  SELECT round(sqrt(list_sum(list_transform(
           embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
           AS norm
  FROM embeddings
)
SELECT CAST(floor(norm * {NORM_BUCKET_SCALE}) AS INTEGER) AS bucket,
       COUNT(*) AS n_vecs,
       MIN(norm) AS min_norm,
       MAX(norm) AS max_norm
FROM norms GROUP BY 1 ORDER BY bucket
"""



# ---------------------------------------------------------------------------
# GEMM top-k (Arrow batch -> BLAS matrix product)
# ---------------------------------------------------------------------------



def ann_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank eval of the LSH path: where does each
    query's TRUE nearest neighbor (brute-force rank 1) land in the
    approximate ranking? Recall@k says whether the right answers are
    in the candidate set; MRR says whether they're at the TOP — the
    metric that matters when only the first hit is shown. rr_ppm =
    10^6 DIV rank (0 when the true neighbor is missed entirely);
    integer fixed-point, engine-exact. Same |Q|-row join shape as
    ann_recall_eval.
    """
    bf1 = (
        ann_topk_bruteforce(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select("query_id", F.col("neighbor_id").alias("true_nn"))
    )
    lsh = ann_lsh_bucketed(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("true_nn"),
        F.col("rank").alias("lsh_rank"),
    )
    return (
        bf1.join(lsh, ["query_id", "true_nn"], "left")
        .select(
            "query_id",
            "true_nn",
            F.coalesce(F.col("lsh_rank"), F.lit(0)).alias("lsh_rank"),
            # nullif guards ANSI division-by-zero when the true NN is missed
            F.coalesce(
                F.expr("1000000 DIV nullif(lsh_rank, 0)"), F.lit(0)
            ).alias("rr_ppm"),
        )
        .orderBy("query_id")
    )


def _ann_mrr_sql() -> str:
    bf = ANN_TOPK_SQL.strip()
    lsh = _ann_lsh_sql().strip()
    return f"""
WITH bf AS ({bf}),
lsh AS ({lsh}),
bf1 AS (SELECT query_id, neighbor_id AS true_nn FROM bf WHERE rank = 1)
SELECT bf1.query_id, bf1.true_nn,
       CAST(COALESCE(lsh.rank, 0) AS INTEGER) AS lsh_rank,
       CAST(COALESCE(1000000 // NULLIF(lsh.rank, 0), 0) AS BIGINT) AS rr_ppm
FROM bf1 LEFT JOIN lsh
  ON bf1.query_id = lsh.query_id AND bf1.true_nn = lsh.neighbor_id
ORDER BY bf1.query_id
"""



def emb_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between COSINE and raw DOT-PRODUCT
    retrieval orderings, per query — the metric-selection audit: if rho
    is ~1 for your corpus (near-uniform vector norms), the cheaper dot
    product can serve retrieval; where rho drops, norm variation is
    re-ranking results and cosine's normalization genuinely matters.

    Exact integers end-to-end: both scores round to 6 decimals (the
    engine-portable reduction contract), ranks come from one window per
    metric ordered (score DESC, neighbor_id), and
    rho = 1 − 6·Σd²/(n(n²−1)) evaluates in DECIMAL(38,0) ppm (HUGEINT
    on the oracle side) — max Σd² = n(n²−1)/3, so the 6·Σd²·10⁶
    numerator would wrap BIGINT past ~11k vectors per query; wide
    arithmetic keeps both engines exact, and the ppm re-narrows to
    BIGINT at the end. Plan: one broadcast-queries scoring pass (same shape
    as the bruteforce), two rank windows sharing the per-query
    partition, one partial-agg fold.
    """
    q, c = _query_corpus(load_table(spark, sf_dir, "embeddings"))
    scored = _score(_pairs(q, c), F.round(dot_expr("qv", "cv"), 6).alias("dot"))
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    wd = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    ranked = scored.select(
        "query_id",
        (F.row_number().over(wc) - F.row_number().over(wd)).cast("long").alias("d"),
    )
    return (
        ranked.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("d") * F.col("d")).alias("sumd2"))
        .select(
            "query_id",
            "n",
            "sumd2",
            # Wide arithmetic: max sumd2 = n(n²−1)/3, so the 6·sumd2·10⁶
            # numerator leaves BIGINT once the per-query corpus exceeds ~11k
            # vectors. DECIMAL(38,0) here / HUGEINT in the oracle keeps both
            # engines exact far beyond any fixture SF; the result re-narrows
            # to BIGINT (rho·10⁶ is always in [-10⁶, 10⁶]).
            F.expr(
                "CAST(1000000 - (6 * CAST(sumd2 AS DECIMAL(38,0)) * 1000000"
                " DIV (CAST(n AS DECIMAL(38,0)) * (n * n - 1))) AS BIGINT)"
            ).alias("spearman_ppm"),
        )
        .orderBy("query_id")
    )


def _rank_corr_sql() -> str:
    dot6 = f"ROUND({_dot_sql('qv', 'cv')}, 6)"
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         {_cos_sql('qv', 'c.embedding').replace('c.embedding', 'cv')} AS cos,
         {dot6} AS dot
  FROM (SELECT query_id, qv, c.vec_id, c.embedding AS cv
        FROM q JOIN embeddings c ON query_id <> c.vec_id) c
),
ranked AS (
  SELECT query_id,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
            - row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id)
            AS BIGINT) AS d
  FROM scored
)
SELECT query_id, COUNT(*) AS n,
       CAST(SUM(d * d) AS BIGINT) AS sumd2,
       CAST(1000000 - (6 * CAST(SUM(d * d) AS HUGEINT) * 1000000
            // (CAST(COUNT(*) AS HUGEINT) * (COUNT(*) * COUNT(*) - 1))) AS BIGINT) AS spearman_ppm
FROM ranked GROUP BY query_id ORDER BY query_id
"""



KNN_EVAL_K = 5  # renamed: a second module-level KNN_K shadowed the graph op's K=3
GEMM_SELECT_SLACK = 16  # local preselect overshoot covering BLAS jitter


def _fold_norms(mat):
    """sqrt(Σx²) per row with a dim-SEQUENTIAL float64 fold (vectorized
    across rows, ordered over dims) — bit-identical to the scalar fold
    ``F.aggregate`` / DuckDB ``list_sum`` run, unlike np.linalg.norm's
    pairwise/blocked reduction."""
    acc = np.zeros(mat.shape[0])
    for t in range(mat.shape[1]):
        acc = acc + mat[:, t] * mat[:, t]
    return np.sqrt(acc)


def _fold_dot_pairs(emat, qmat, rows):
    """Σ eᵢqᵢ for candidate pairs with the same dim-sequential fold.
    ``rows`` is a (k, Q) index matrix into ``emat``; column j pairs with
    ``qmat[j]``. Returns a (k, Q) float64 dot matrix."""
    cand = emat[rows]  # (k, Q, d)
    acc = np.zeros(rows.shape)
    for t in range(emat.shape[1]):
        acc = acc + cand[:, :, t] * qmat[None, :, t]
    return acc


def _round_half_away(y):
    """Exact round-half-away-from-zero (C ``std::round`` / DuckDB
    ``ROUND`` / Spark ``round``) for |y| < 2**52. ``np.rint`` is
    half-to-EVEN and disagrees with the SQL engines on exact halves;
    ``floor(y + 0.5)`` mis-rounds when ``y + 0.5`` itself rounds up.
    ``y - floor(y)`` is exact below 2**52, so the comparison is exact."""
    fl = np.floor(y)
    frac = y - fl
    return fl + ((frac > 0.5) | ((frac == 0.5) & (y >= 0)))


KNN_EVAL_MOD = 5  # vec_id % 5 == 0 -> eval split


KNN_EVAL_MAX_ROWS = 1_000_000  # eval matrix is collected+broadcast; keep it bounded


def ml_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A complete classifier as ONE relational query: k-NN majority vote
    over the embedding space, split deterministically (vec_id mod), with
    per-label accuracy in exact ppm. No MLlib, no model artifact — the
    "non-parametric baseline" every embedding eval should report before
    training anything, and a direct measure of label structure in the
    vector space (the fixture's labels are weakly clustered, and the low
    accuracies say so honestly).

    Scoring runs through the blocked-GEMM kernel (the ``ann_topk_gemm``
    shape), not an |eval|×|train| expression-tree cross join: the eval
    matrix — bounded by construction (an eval SET, guarded at
    ``KNN_EVAL_MAX_ROWS``) — is collected once, normalized, and closed
    over; ``mapInPandas`` streams the TRAIN corpus in Arrow batches, each
    batch computing all batch×eval cosines as one BLAS GEMM and keeping
    its LOCAL per-eval top-(K+slack), so the shuffle carries
    ≤ (K+slack)·|eval| rows per batch instead of the |eval|×|train|
    score stream. Oracle-exactness: the GEMM is used for candidate
    SELECTION only (overshooting by ``GEMM_SELECT_SLACK`` so BLAS
    summation-order jitter is absorbed for any realistic input — the
    guarantee is probabilistic, not absolute: if more than SLACK
    candidates tie inside the ±1-ppm rint-quantization band at the
    local selection cut, a true top-K row could still be dropped
    before the exact rescore); survivors
    are RESCORED with the dim-sequential float64 fold the oracle's
    ``list_sum`` runs and quantized to ppm with exact
    half-away-from-zero rounding (``_round_half_away`` — ``np.rint``'s
    half-to-even disagrees with SQL ROUND on exact halves), so the
    emitted score is the same double sequence both engines compute.

    After scoring: global per-eval top-K window over ≤ K rows per (eval,
    batch), vote count, majority via a tiny window (votes DESC, label ASC
    tie-break — deterministic), broadcast join-back of true labels, and a
    per-label fold. At 100× the train corpus the plan is unchanged — one
    scan, one bounded shuffle; a still-larger train side swaps in any ANN
    candidate generator above (IVF/LSH) in front of the same kernel.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    ev_rows = (
        emb.filter(F.col("vec_id") % KNN_EVAL_MOD == 0)
        .select("vec_id", "embedding", "label")
        .limit(KNN_EVAL_MAX_ROWS + 1)
        .collect()
    )
    if len(ev_rows) > KNN_EVAL_MAX_ROWS:
        raise ValueError(
            f"ml_knn_classifier_eval broadcasts the eval matrix; eval split "
            f"exceeds {KNN_EVAL_MAX_ROWS} rows — sample the eval set or raise "
            "the guard deliberately"
        )
    eval_ids = np.array([r.vec_id for r in ev_rows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in ev_rows], dtype=np.float64)
    q_norm = _fold_norms(q_mat)
    bc = spark.sparkContext.broadcast((eval_ids, q_mat, q_norm))

    def gen(batches):
        b_ids, b_q, b_qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            e_mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labels = pdf["label"].to_numpy(dtype=np.int32)
            e_norm = _fold_norms(e_mat)
            # GEMM for candidate SELECTION only: pick K+slack by the
            # approximate (rint-quantized) composite key — jitter-tolerant
            # because the slack absorbs realistic half-boundary crossings
            # (>SLACK-way ppm ties at the cut are the residual risk).
            cos = (e_mat @ b_q.T) / (e_norm[:, None] * b_qn[None, :])
            sel_key = np.rint(cos * 1_000_000).astype(np.int64) * (
                1 << 40
            ) - ids[:, None]
            k = min(KNN_EVAL_K + GEMM_SELECT_SLACK, sel_key.shape[0])
            top = np.argpartition(-sel_key, kth=k - 1, axis=0)[:k, :]
            # EXACT rescore of survivors: dot/(|u||v|) with the oracle's
            # dim-sequential fold, half-away ppm quantization — the global
            # (score_ppm DESC, train_id ASC) window then decides exactly.
            dot = _fold_dot_pairs(e_mat, b_q, top)
            score_ppm = _round_half_away(
                dot / (e_norm[top] * b_qn[None, :]) * 1_000_000
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "eval_id": np.repeat(b_ids[None, :], k, axis=0).ravel(),
                    "train_id": ids[top].ravel(),
                    "nn_label": labels[top.ravel()],
                    "score_ppm": score_ppm.ravel(),
                }
            )

    local = (
        emb.filter(F.col("vec_id") % KNN_EVAL_MOD != 0)
        .select("vec_id", "embedding", "label")
        .mapInPandas(
            gen, "eval_id long, train_id long, nn_label int, score_ppm long"
        )
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.desc("score_ppm"), F.asc("train_id")
    )
    topk = local.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= KNN_EVAL_K
    )
    true_labels = spark.createDataFrame(
        [(int(r.vec_id), int(r.label)) for r in ev_rows],
        "eval_id long, true_label int",
    )
    votes = (
        topk.join(F.broadcast(true_labels), "eval_id")
        .groupBy("eval_id", "true_label", "nn_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = Window.partitionBy("eval_id").orderBy(F.desc("votes"), F.asc("nn_label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("eval_id", "true_label", F.col("nn_label").alias("pred_label"))
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            "true_label",
            "n",
            "n_correct",
            F.expr("n_correct * 1000000 DIV n").alias("acc_ppm"),
        )
        .orderBy("true_label")
    )


def _knn_classifier_sql() -> str:
    return f"""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding AS qv, label AS true_label
  FROM embeddings WHERE vec_id % {KNN_EVAL_MOD} = 0
), tr AS (
  SELECT vec_id AS train_id, embedding AS cv, label AS nn_label
  FROM embeddings WHERE vec_id % {KNN_EVAL_MOD} <> 0
), scored AS (
  SELECT eval_id, true_label, nn_label, train_id,
         {_cos_sql('qv', 'cv')} AS cos
  FROM ev CROSS JOIN tr
), topk AS (
  SELECT * FROM (
    SELECT eval_id, true_label, nn_label,
           row_number() OVER (PARTITION BY eval_id ORDER BY cos DESC, train_id) AS rank
    FROM scored
  ) WHERE rank <= {KNN_EVAL_K}
), votes AS (
  SELECT eval_id, true_label, nn_label, COUNT(*) AS votes
  FROM topk GROUP BY eval_id, true_label, nn_label
), pred AS (
  SELECT eval_id, true_label, nn_label AS pred_label
  FROM (
    SELECT *, row_number() OVER (PARTITION BY eval_id ORDER BY votes DESC, nn_label) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT true_label, COUNT(*) AS n,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
FROM pred GROUP BY true_label ORDER BY true_label
"""


def ann_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-K as a BLOCKED MATRIX PRODUCT: the query
    set (tiny, collected once and closed over — the same role as a
    broadcast) is normalized into a Q×d float64 matrix; ``mapInPandas``
    streams the corpus in Arrow batches and each batch computes ALL
    batch×query scores as one BLAS GEMM (``En @ Qn.T``), keeps its LOCAL
    per-query top-K, and only those ≤ K·Q rows per batch reach the final
    global top-K window.

    This is the throughput shape for exact search at scale: one vectorized
    kernel per batch instead of |batch|·|Q| expression-tree dot products,
    and the shuffle carries K+slack rows per (query, batch) — not the
    corpus. Same neighbor contract as ``ann_topk_bruteforce``, and
    ORACLE-EXACT by construction, not by luck: the GEMM only SELECTS
    candidates (overshooting by ``GEMM_SELECT_SLACK`` so BLAS
    summation-order jitter is absorbed for any realistic input — the
    guarantee is probabilistic, not absolute: if more than SLACK
    candidates tie inside the ±1-ppm rint-quantization band at the
    local selection cut, a true top-K row could still be dropped
    before the exact rescore); survivors
    are RESCORED with the dim-sequential float64 fold the oracle's
    ``list_sum`` runs and quantized with exact half-away-from-zero
    rounding (``np.rint``'s half-to-even disagrees with SQL ROUND on
    exact halves), so the emitted score_ppm is the same double sequence
    both engines compute and the global (score_ppm DESC, neighbor_id
    ASC) window decides identically.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_norm = _fold_norms(q_mat)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            e_mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            e_norm = _fold_norms(e_mat)
            # GEMM for candidate SELECTION only (K+slack by approximate
            # key), one slot more for the query's own row, dropped below.
            # A zero vector's cosine is 0/0 = NaN: a NULL score, which
            # selects and ranks last, then by id, as the oracle orders it.
            cos = (e_mat @ q_mat.T) / (e_norm[:, None] * q_norm[None, :])
            ppm = np.nan_to_num(np.rint(cos * 1_000_000), nan=-2_000_000)
            sel_key = ppm.astype(np.int64) * (1 << 40) - ids[:, None]
            k = min(TOP_K + GEMM_SELECT_SLACK + 1, sel_key.shape[0])
            top = np.argpartition(-sel_key, kth=k - 1, axis=0)[:k, :]
            # EXACT rescore of survivors: oracle's sequential fold +
            # half-away ppm.
            dot = _fold_dot_pairs(e_mat, q_mat, top)
            score_ppm = _round_half_away(
                dot / (e_norm[top] * q_norm[None, :]) * 1_000_000
            )
            other = (ids[top] != qids[None, :]).ravel()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids[None, :], k, axis=0).ravel()[other],
                    "neighbor_id": ids[top].ravel()[other],
                    "score_ppm": pd.array(score_ppm.ravel()[other], dtype="Int64"),
                }
            )

    local = emb.select("vec_id", "embedding").mapInPandas(
        gen, "query_id long, neighbor_id long, score_ppm long"
    )
    return _top_k(
        local, order=(F.desc("score_ppm"), F.asc("neighbor_id"))
    ).orderBy("query_id", "rank")


ANN_GEMM_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CAST(ROUND({_cos_sql('qv', 'c.embedding')} * 1000000) AS BIGINT) AS score_ppm
  FROM q JOIN embeddings c ON query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, score_ppm,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score_ppm DESC, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, score_ppm, rank FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


def _bitpack_expr(lo_bit: int) -> str:
    """Pack 32 sign bits (embedding positions lo_bit+1 .. lo_bit+32,
    1-indexed) into a BIGINT word: bit i set iff component >= 0."""
    return (
        f"aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, i) -> acc + "
        f"IF(element_at(embedding, i + {lo_bit + 1}) >= 0, "
        f"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))"
    )


def emb_bitpack_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-code retrieval: 1-bit sign quantization of the 64-d float
    embedding into two 32-bit words, then Hamming top-K per query —
    XOR + popcount over 8 bytes instead of 64 float multiplies, a 32×
    memory / IO reduction (the compression rung below ``ann_pq_adc``'s
    16×, and the representation ITQ/LSH retrieval systems ship at the
    billion-vector scale). Under the random-hyperplane view, Hamming
    distance estimates angle: E[ham/64] = θ/π — so sign-bit codes
    preserve cosine ORDER in expectation and serve as a first-pass
    filter whose survivors re-rank with full-precision vectors.

    Everything is integer (bit ops end-to-end, no floats anywhere after
    the sign test), so the DuckDB oracle hash-matches exactly. Packing
    into two BIGINT-held 32-bit words sidesteps the engines' differing
    64-bit signed-shift overflow behavior at bit 63.

    Plan: codes are one map-side projection (pure expression, codegen),
    the Q-row query side broadcasts, per-query top-K keeps K rows per
    partition before one bounded window — the bruteforce contract with
    an 8-byte payload. At 100 TB the same codes become the bucket key
    for multi-index Hamming probing (split words = exact-match bands,
    the ``dedup_simhash`` shape) — this entry is the scoring kernel."""
    return _top_k(
        _hamming_pairs(load_table(spark, sf_dir, "embeddings")),
        order=(F.asc("hamming"), F.asc("neighbor_id")),
    ).orderBy("query_id", "rank")


def _hamming_pairs(emb: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, hamming) over each vector's two 32-bit
    sign-code words: XOR + popcount, queries broadcast as in ``_pairs``."""
    codes = emb.select(
        "vec_id",
        F.expr(_bitpack_expr(0)).alias("lo"),
        F.expr(_bitpack_expr(32)).alias("hi"),
    )
    q = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    c = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("lo").alias("c_lo"),
        F.col("hi").alias("c_hi"),
    )
    return _pairs(q, c).select(
        "query_id",
        "neighbor_id",
        F.expr(
            "CAST(bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi) AS INT)"
        ).alias("hamming"),
    )


def _bitpack_sql(lo_bit: int) -> str:
    return (
        f"list_sum(list_transform(range(0, 32), i -> CASE WHEN "
        f"embedding[i + {lo_bit + 1}] >= 0 THEN (1::BIGINT << i) ELSE 0 END))"
    )


EMB_HAMMING_SQL = f"""
WITH codes AS (
  SELECT vec_id,
         CAST({_bitpack_sql(0)} AS BIGINT) AS lo,
         CAST({_bitpack_sql(32)} AS BIGINT) AS hi
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, lo AS q_lo, hi AS q_hi FROM codes
  WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q_lo, c.lo)) + bit_count(xor(q_hi, c.hi)) AS INTEGER)
           AS hamming
  FROM q JOIN codes c ON query_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, hamming,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY hamming, neighbor_id
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, hamming, rank FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


RERANK_SHORTLIST = 50  # Hamming shortlist size feeding the exact re-rank


def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production retrieval shape END TO END: a cheap binary-code
    first pass shortlists candidates, full-precision cosine re-ranks
    only the shortlist — coarse-filter + re-rank, the architecture
    every billion-vector serving stack uses (bit codes in memory,
    float vectors fetched only for the shortlist). Composes the two
    rungs already measured separately here: ``emb_bitpack_hamming_topk``
    (32× compressed scan) and exact scoring, with
    ``emb_bitpack_recall_eval`` quantifying what the shortlist can miss.

    Stage 1 scans only 8-byte codes (XOR+popcount) and keeps
    {RERANK_SHORTLIST} per query; stage 2 fetches raw vectors for
    shortlist rows ONLY — |Q|·{RERANK_SHORTLIST} vector reads instead
    of |Q|·|corpus| — and re-ranks by exact 6-decimal cosine with
    hoisted norms. Both stages are integer/rounded-exact, so the DuckDB
    oracle hash-verifies the full two-stage result, including the
    ham_rank → rank reordering the re-rank performs."""
    emb = load_table(spark, sf_dir, "embeddings")
    shortlist = _top_k(
        _hamming_pairs(emb),
        k=RERANK_SHORTLIST,
        order=(F.asc("hamming"), F.asc("neighbor_id")),
        rank="ham_rank",
    )
    q, c = _query_corpus(emb)
    pairs = shortlist.join(F.broadcast(q), "query_id").join(c, "neighbor_id")
    return _top_k(_score(pairs, "hamming", "ham_rank")).orderBy(
        "query_id", "rank"
    )


ANN_RERANK_SQL = f"""
WITH codes AS (
  SELECT vec_id,
         CAST({_bitpack_sql(0)} AS BIGINT) AS lo,
         CAST({_bitpack_sql(32)} AS BIGINT) AS hi
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, lo AS q_lo, hi AS q_hi FROM codes
  WHERE vec_id < {N_QUERIES}
), shortlist AS (
  SELECT * FROM (
    SELECT query_id, c.vec_id AS neighbor_id,
           CAST(bit_count(xor(q_lo, c.lo)) + bit_count(xor(q_hi, c.hi)) AS INTEGER)
             AS hamming,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY bit_count(xor(q_lo, c.lo)) + bit_count(xor(q_hi, c.hi)),
                      c.vec_id
           ) AS INTEGER) AS ham_rank
    FROM q JOIN codes c ON query_id <> c.vec_id
  ) WHERE ham_rank <= {RERANK_SHORTLIST}
), reranked AS (
  SELECT s.query_id, s.neighbor_id, s.hamming, s.ham_rank,
         {_cos_sql('x.embedding', 'y.embedding')} AS cosine
  FROM shortlist s
  JOIN embeddings x ON x.vec_id = s.query_id
  JOIN embeddings y ON y.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, hamming, ham_rank, cosine,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) AS rank
  FROM reranked
) WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def emb_bitpack_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the 1-bit sign codes against exact cosine ground truth
    — the accept/reject measurement for the 32× compression
    ``emb_bitpack_hamming_topk`` buys: per query, how many of the true
    cosine top-K survive in the Hamming top-K? The number that decides
    whether binary codes can serve as the first-pass filter (re-rank
    recovers order but not candidates it never saw). Same eval shape as
    ``ann_recall_eval``/``ann_pq_recall_eval``: two bounded top-K sides,
    one K-row-per-query left join, an exact ppm fold."""
    return (
        _recall_per_query(
            ann_topk_bruteforce(spark, sf_dir),
            emb_bitpack_hamming_topk(spark, sf_dir),
        )
        .toDF("query_id", "k", "n_hit", "recall_ppm")
        .orderBy("query_id")
    )


EMB_BITPACK_RECALL_SQL = f"""
WITH truth AS ({ANN_TOPK_SQL.strip()}),
ham AS ({EMB_HAMMING_SQL.strip()})
SELECT t.query_id, COUNT(*) AS k,
       CAST(SUM(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(SUM(CASE WHEN h.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS recall_ppm
FROM truth t LEFT JOIN ham h
  ON t.query_id = h.query_id AND t.neighbor_id = h.neighbor_id
GROUP BY t.query_id ORDER BY t.query_id
"""


COSHIST_PAIR_BUDGET = 20_000  # target sampled-pair count at ANY corpus size


def _coshist_mod(n: int) -> int:
    """Sampling modulus M for the pair-geometry audit, derived from the
    corpus count so the sampled-pair count n(n−1)/2M stays ≈
    ``COSHIST_PAIR_BUDGET`` at every scale (fixed M would grow the
    sample quadratically). M is nudged off multiples of 17 and 31 (the
    congruence multipliers) so both residue maps stay bijective and the
    kept-pair density really is 1/M; among any {m0, m0+1, m0+2} at most
    one is divisible by 17 and one by 31, so one of the three qualifies.
    The oracle SQL derives the identical M from COUNT(*)."""
    m0 = max(1, (n * (n - 1) // 2) // COSHIST_PAIR_BUDGET)
    for m in (m0, m0 + 1, m0 + 2):
        if m % 17 != 0 and m % 31 != 0:
            return m
    raise AssertionError("unreachable: three consecutive excluded moduli")


def emb_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-geometry audit: the distribution of pairwise cosine
    similarities, binned at 0.1 width — the anisotropy check run before
    trusting cosine retrieval at all (a mass concentrated near +1 means
    a collapsed embedding space where ranking is noise; healthy spaces
    center near 0). Reported over a DETERMINISTIC 1/M sample of
    unordered pairs chosen by congruence class: pair (a, b) is kept iff
    31·a + 17·b ≡ 0 (mod M) — and that predicate is planned as an
    EQUI-JOIN on the residue keys ((M − 31a mod M) mod M = 17b mod M),
    so the n²/M sampled pairs are generated directly; the n² cross
    space is never enumerated. M is BUDGET-DERIVED (``_coshist_mod``):
    both engines compute M = n(n−1)/2 ÷ COSHIST_PAIR_BUDGET from
    COUNT(*), so the audit costs O(budget) pairs at any corpus size —
    the sample thins as the corpus grows instead of the cost
    quadrupling per doubling. Sampling, binning, and counting are all
    integer/equi-join shapes. Both engines compute the identical pair
    set and 6-decimal cosines — hash-exact.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    mod = _coshist_mod(emb.count())
    # Norms are precomputed ONCE per vector on each join side (the oracle
    # recomputes them per pair — identical doubles either way), so the
    # per-pair work inside the join is the dot product alone.
    norm = norm_expr("embedding")
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("av"),
        norm.alias("na"),
        F.expr(f"(({mod} - (31 * vec_id) % {mod}) % {mod})").alias("res"),
    )
    b = emb.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("bv"),
        norm.alias("nb"),
        F.expr(f"(17 * vec_id) % {mod}").alias("res"),
    )
    pairs = a.join(b, "res").filter(F.col("a_id") < F.col("b_id"))
    cos = cosine_from_parts(dot_expr("av", "bv"), F.col("na"), F.col("nb"))
    binned = pairs.select(F.floor(cos * 10).cast("int").alias("bin"))
    total = binned.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "bin",
            "n",
            F.expr("n * 1000000 DIV n_pairs").alias("share_ppm"),
        )
        .orderBy("bin")
    )


EMB_COSHIST_SQL = f"""
WITH mm AS (
  SELECT CASE WHEN m0 % 17 <> 0 AND m0 % 31 <> 0 THEN m0
              WHEN (m0 + 1) % 17 <> 0 AND (m0 + 1) % 31 <> 0 THEN m0 + 1
              ELSE m0 + 2 END AS m
  FROM (
    SELECT GREATEST(1, (n * (n - 1) // 2) // {COSHIST_PAIR_BUDGET}) AS m0
    FROM (SELECT COUNT(*) AS n FROM embeddings)
  )
), a AS (
  SELECT vec_id AS a_id, embedding AS av,
         ((m - (31 * vec_id) % m) % m) AS res
  FROM embeddings, mm
), b AS (
  SELECT vec_id AS b_id, embedding AS bv,
         (17 * vec_id) % m AS res
  FROM embeddings, mm
), binned AS (
  SELECT CAST(FLOOR({_cos_sql('av', 'bv')} * 10) AS INTEGER) AS bin
  FROM a JOIN b USING (res) WHERE a_id < b_id
), total AS (SELECT COUNT(*) AS n_pairs FROM binned)
SELECT bin, COUNT(*) AS n,
       CAST(COUNT(*) * 1000000 // ANY_VALUE(n_pairs) AS BIGINT) AS share_ppm
FROM binned, total GROUP BY bin ORDER BY bin
"""


OUTLIER_COS_PPM = 50_000  # mean-kNN-cosine floor: below ≈ isolated in space


def emb_knn_outlier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space OUTLIER detection — the noise/mislabel filter a
    training pipeline runs before trusting vectors for retrieval or
    dedup: a vector whose mean cosine to its own k nearest neighbors is
    low sits isolated in the space (corrupt text, wrong modality, OOD),
    the LOF-lite signal without LOF's second-order density ratio. Built
    ON the banded kNN graph (``knn_graph_lsh``) — no extra scoring pass:
    score = mean neighbor cosine in exact ppm, vectors that found NO
    in-bucket neighbor score −1 and are outliers by definition (nothing
    near them even at the bucket level).

    Plan: the graph's bucket equi-join + one per-source fold + a left
    join back to the corpus id list — everything after the graph moves
    ≤ k rows per vector. Threshold is a fixed config ({OUTLIER_COS_PPM}
    ppm ≈ the fixture's 5th percentile), deterministic in both engines."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    g = knn_graph_lsh(spark, sf_dir)
    scores = g.groupBy(F.col("src_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.expr(
            "CAST(SUM(CAST(ROUND(cosine * 1000000) AS BIGINT)) DIV COUNT(1)"
            " AS BIGINT)"
        ).alias("avg_cos_ppm"),
    )
    return (
        emb.join(scores, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_neighbors", F.lit(0)).cast("int").alias("n_neighbors"),
            F.coalesce("avg_cos_ppm", F.lit(-1)).alias("avg_cos_ppm"),
            (
                F.coalesce("avg_cos_ppm", F.lit(-1)) < OUTLIER_COS_PPM
            ).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


def _knn_outlier_sql() -> str:
    return f"""
WITH g AS ({_knn_graph_sql().strip()}),
scores AS (
  SELECT src_id AS vec_id, COUNT(*) AS n_neighbors,
         CAST(SUM(CAST(ROUND(cosine * 1000000) AS BIGINT)) // COUNT(*) AS BIGINT)
           AS avg_cos_ppm
  FROM g GROUP BY src_id
)
SELECT e.vec_id,
       CAST(COALESCE(n_neighbors, 0) AS INTEGER) AS n_neighbors,
       CAST(COALESCE(avg_cos_ppm, -1) AS BIGINT) AS avg_cos_ppm,
       COALESCE(avg_cos_ppm, -1) < {OUTLIER_COS_PPM} AS is_outlier
FROM embeddings e LEFT JOIN scores s ON e.vec_id = s.vec_id
ORDER BY e.vec_id
"""


ZSCORE_TOPK = 20       # outlier readout size
ZSCORE_RES = 10_000    # per-dim score resolution (1e4 = basis-point z²)


def emb_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal-Mahalanobis (per-dimension z-score) embedding outliers —
    the cheap distribution-based OOD filter a training pipeline runs
    before the kNN/LOF pass (``emb_knn_outlier_score``): vectors whose
    coordinates sit far from the corpus mean in units of that
    dimension's variance. Catches corrupted encodes, wrong-modality
    rows, and collapsed (all-zero) embeddings that density methods
    price per-pair.

    EXACT integer form, both engines: quantize xi = round(x·2^10); the
    per-dim stats reduce to scale-free REDUCED moments (the CKA trick —
    every value stays < 2^53 at any corpus size):

        dev_i = (n·xi − Si) div n              ≈ xi − mean_i
        var_i = (n·Qi − Si²) div n²            ≈ E[(x−μ)²] fixed-point

    score = Σ_i dev_i²·{ZSCORE_RES} div var_i (zero-variance dims
    contribute 0). The stats fold runs n·Qi and Si² in DECIMAL(38,0)/
    HUGEINT — those DO leave BIGINT at corpus scale — then the reduced
    moments come back down.

    Plan: one posexplode partial agg for the d-row stats (shuffle
    carries dim-keyed accumulators only), stats re-enter as literal
    arrays (the quantize_int8 / k-means driver-literal pattern — d·16
    bytes of model state), and scoring is a single NARROW in-row
    aggregate over the corpus — no second shuffle; the top-{ZSCORE_TOPK}
    readout is TakeOrdered."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", round_grid("embedding", PCA_X_SCALE).alias("qx")
    )
    stats = (
        emb.select(F.posexplode("qx").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.sum("v").alias("s"),
            F.expr("SUM(CAST(v AS DECIMAL(38,0)) * v)").alias("qsum"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("dim")
        .collect()
    )
    n = int(stats[0].n)
    s_arr = _long_array(r.s for r in stats)
    v_arr = _long_array((n * int(r.qsum) - int(r.s) ** 2) // (n * n) for r in stats)
    score = (
        f"aggregate(zip_with(qx, sequence(1, {EMB_DIM}), (x, i) ->"
        f" named_struct('x', x, 'i', i)), CAST(0 AS BIGINT), (acc, p) ->"
        f" acc + CASE WHEN element_at({v_arr}, p.i) <= 0 THEN CAST(0 AS BIGINT)"
        f" ELSE (abs({n}L * p.x - element_at({s_arr}, p.i)) DIV {n}L)"
        f" * (abs({n}L * p.x - element_at({s_arr}, p.i)) DIV {n}L)"
        f" * {ZSCORE_RES}L DIV element_at({v_arr}, p.i) END)"
    )
    return (
        emb.select("vec_id", F.expr(score).alias("zscore_e4"))
        .orderBy(F.desc("zscore_e4"), "vec_id")
        .limit(ZSCORE_TOPK)
    )


def _zscore_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * {PCA_X_SCALE}, 0)
              AS BIGINT) AS v
  FROM embeddings
),
stats AS (
  SELECT dim, CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS qsum,
         COUNT(*) AS n
  FROM e GROUP BY dim
),
red AS (
  SELECT dim, s, n,
         CAST((n * qsum - CAST(s AS HUGEINT) * s) // (CAST(n AS HUGEINT) * n)
              AS BIGINT) AS var_red
  FROM stats
),
scored AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN var_red <= 0 THEN 0
                  ELSE (abs(n * v - s) // n) * (abs(n * v - s) // n)
                       * {ZSCORE_RES} // var_red END) AS BIGINT) AS zscore_e4
  FROM e JOIN red USING (dim)
  GROUP BY vec_id
)
SELECT vec_id, zscore_e4 FROM scored
ORDER BY zscore_e4 DESC, vec_id LIMIT {ZSCORE_TOPK}
"""


# ---------------------------------------------------------------------------
# cluster_kcenter_greedy — Gonzalez farthest-first traversal (k-center)
# ---------------------------------------------------------------------------

KCENTER_K = 4
KC_SCALE = 1_000_000  # components quantized to micros before the L2 math


def cluster_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center / farthest-first traversal (Gonzalez 1985, public
    — the 2-approximation for metric k-center and the seeding step
    scalable k-means variants like k-means‖, Bahmani et al. 2012, build
    on): start from vec_id 0, then K−1 times add the point FARTHEST from
    the current center set. Emits one row per selected center (its
    distance² to the previous set — a non-increasing sequence, the
    coverage-radius ladder) plus a final row with the achieved coverage
    radius² over the whole corpus.

    Exactness: components quantize to micros, so every distance² is a
    bigint (≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴) and the per-round argmax is an
    integer max with a deterministic vec_id tie-break — engine-exact
    against the unrolled-SQL oracle.

    Scale shape per round: the K-so-far center rows broadcast (the
    k-means driver-literal pattern — K·d ints of model state, never
    data), the min-distance is a map-side zip_with fold, and the argmax
    is ONE TakeOrdered row back to the driver. K rounds = K corpus
    scans, zero corpus shuffles — the shape that makes farthest-first
    the standard coreset/seeding pass at 100 TB, where a shuffle-per-
    round Lloyd iteration would be 10× the cost.
    """
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", half_up_grid("embedding", KC_SCALE).alias("q")
    ).localCheckpoint(eager=False)

    def mind_col():
        # min distance² to the center set, computed IN-ROW against the
        # broadcast 1-row array of centers — no per-round shuffle: the
        # whole round is a map-side pass ending in one TakeOrdered row
        return F.array_min(
            F.transform(
                "cents",
                lambda c: F.aggregate(
                    F.zip_with("q", c, lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                ),
            )
        ).alias("mind")

    def cents_row(centers):
        return F.broadcast(
            spark.createDataFrame(
                [([cq for _, cq in centers],)], "cents array<array<bigint>>"
            )
        )

    seed_rows = emb.filter(F.col("vec_id") == 0).collect()
    if not seed_rows:
        # A bare IndexError here would read as an engine crash while the
        # oracle degrades to missing rows — fail with the actual cause.
        raise AssertionError(
            "k-center seed vec_id 0 missing from embeddings at " + sf_dir
        )
    centers = [(0, seed_rows[0].q)]  # [(vec_id, quantized components)]
    out_rows = [(0, 0, 0)]  # (round, center_id, sel_dist2)
    for rnd in range(1, KCENTER_K):
        far = (
            emb.crossJoin(cents_row(centers))
            .select("vec_id", "q", mind_col())
            .orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        centers.append((far.vec_id, far.q))
        out_rows.append((rnd, far.vec_id, far.mind))
    # final coverage radius over ALL K centers: map-side mins -> 1-row max
    radius = (
        emb.crossJoin(cents_row(centers))
        .select(mind_col())
        .agg(F.max("mind").alias("r"))
        .collect()[0]
        .r
    )
    out_rows.append((KCENTER_K, -1, radius))
    return spark.createDataFrame(
        out_rows, "round int, center_id long, sel_dist2 long"
    ).orderBy("round")


def _kcenter_sql() -> str:
    q = f"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {KC_SCALE} + 0.5) AS BIGINT))"
    d2 = (
        "list_sum(list_transform(list_zip(p.q, c.q),"
        " z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )
    ctes = [
        f"pts AS (SELECT vec_id, {q} AS q FROM embeddings)",
        "c0 AS (SELECT vec_id, q FROM pts WHERE vec_id = 0)",
        "cent0 AS (SELECT vec_id, q FROM c0)",
    ]
    sel_rows = ["SELECT 0 AS round, CAST(0 AS BIGINT) AS center_id, CAST(0 AS BIGINT) AS sel_dist2"]
    prev = "cent0"
    for r in range(1, KCENTER_K):
        ctes.append(f"""
mind{r} AS (
  SELECT p.vec_id, p.q, MIN({d2}) AS mind
  FROM pts p CROSS JOIN {prev} c GROUP BY p.vec_id, p.q
),
sel{r} AS (
  SELECT vec_id, q, mind FROM mind{r}
  ORDER BY mind DESC, vec_id ASC LIMIT 1
),
cent{r} AS (
  SELECT vec_id, q FROM {prev} UNION ALL SELECT vec_id, q FROM sel{r}
)""")
        sel_rows.append(
            f"SELECT {r} AS round, CAST(vec_id AS BIGINT) AS center_id,"
            f" CAST(mind AS BIGINT) AS sel_dist2 FROM sel{r}"
        )
        prev = f"cent{r}"
    ctes.append(f"""
radius AS (
  SELECT MAX(mind) AS r FROM (
    SELECT p.vec_id, MIN({d2}) AS mind
    FROM pts p CROSS JOIN {prev} c GROUP BY p.vec_id
  )
)""")
    sel_rows.append(
        f"SELECT {KCENTER_K} AS round, CAST(-1 AS BIGINT) AS center_id,"
        f" CAST(r AS BIGINT) AS sel_dist2 FROM radius"
    )
    union = "\n  UNION ALL\n  ".join(sel_rows)
    return (
        "WITH " + ",".join(ctes) + f"\nSELECT round, center_id, sel_dist2 FROM (\n  {union}\n) ORDER BY round"
    )


# ---------------------------------------------------------------------------
# emb_isotropy_score — corpus-level anisotropy audit (mean pairwise cosine)
# ---------------------------------------------------------------------------

ISO_SCALE = 1_000_000  # normalized components quantized to micros
# Signed dividend is fine: Spark's decimal `div` and DuckDB's HUGEINT `//`
# BOTH truncate toward zero (verified: (-7)//2 = -3 in each), so a
# negative mean cosine divides identically in the two engines.


def emb_isotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy audit: the mean pairwise cosine of the
    whole corpus, computed WITHOUT enumerating pairs. Contextual and
    trained embeddings are notoriously anisotropic — they occupy a narrow
    cone, so the expected cosine of two random vectors is far above 0
    (Ethayarajh 2019; Mu & Viswanath 2018's "All-but-the-Top" removes the
    common direction for exactly this reason). A rising mean cosine is
    the canary that cosine-threshold dedup/ANN recall is about to drift.

    The pair sum collapses algebraically: with v̂ᵢ the unit vectors and
    S = Σ v̂ᵢ,   Σ_{i≠j} v̂ᵢ·v̂ⱼ = ‖S‖² − Σᵢ‖v̂ᵢ‖², so one scan suffices.
    Exactness contract: each normalized component is quantized to micros
    (``floor(v/‖v‖·10⁶ + 0.5)`` — identical IEEE double sequence in both
    engines, then integer), per-dimension sums accumulate in
    DECIMAL(38,0)/HUGEINT, and the final ratios are integer divisions
    (both engines truncate toward zero, so signed dividends divide
    identically) — no float aggregate anywhere, so the result is
    engine-exact at any partition count. The pair-count divisor is
    widened to DECIMAL(38,0)/HUGEINT before squaring n_vecs, so the
    contract holds to n_vecs ≈ 1e16 (a BIGINT divisor would silently
    wrap at ≈3.04M vectors under non-ANSI Spark). A zero vector has no
    unit components (NULL, skipped by the sums) and a one-row corpus no
    pair, so its mean cosine is NULL, as in the oracle.

    Plan shape: ONE embeddings scan → posexplode to (dim, q) → ONE
    partial-agg shuffle keyed by dim (d·n_partitions rows cross the wire,
    never n·d) → a d-row frame folds to the 1-row report. At 100 TB this
    is a map-side pass plus a 64-key aggregate — the cheapest corpus-wide
    statistic in the embedding family.
    """
    # the norm is projected once per row: inside the grid's lambda Spark
    # would fold its 64-term sum again for every element
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings")).select(
        "embedding", norm_expr("embedding").alias("norm")
    )
    norm = F.col("norm")
    q = emb.select(
        F.posexplode(half_up_grid("embedding", ISO_SCALE, norm)).alias("dim", "q"),
        F.floor(norm * ISO_SCALE + F.lit(0.5)).cast("bigint").alias("norm_micro"),
    )
    dims = q.groupBy("dim").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("ss"),
        # norm_micro repeats once per dim; divide back out after the agg
        F.sum("norm_micro").alias("nm"),
        F.count(F.lit(1)).alias("n"),
    )
    return dims.agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.max(F.expr("nm div n")).alias("mean_norm_micro_num"),
        F.sum(F.col("s") * F.col("s")).alias("sumsq"),
        F.sum("ss").alias("selfsq"),
        F.max(F.abs("s")).alias("max_abs_s"),
    ).select(
        "n_vecs",
        # all per-dim nm/n values are equal (= Σ norm_micro / n_vecs)
        F.col("mean_norm_micro_num").alias("mean_norm_micro"),
        _mean_cos_ppm("sumsq", "selfsq").alias("mean_cos_ppm"),
        F.expr("CAST(max_abs_s div n_vecs AS BIGINT)").alias("max_dim_bias_micro"),
    )


EMB_ISOTROPY_SQL = f"""
WITH q AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE)
              / sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * {ISO_SCALE} + 0.5) AS BIGINT) AS q,
         CAST(floor(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * {ISO_SCALE} + 0.5) AS BIGINT) AS norm_micro
  FROM embeddings
),
dims AS (
  SELECT dim,
         CAST(SUM(q) AS HUGEINT) AS s,
         CAST(SUM(q * q) AS HUGEINT) AS ss,
         CAST(SUM(norm_micro) AS BIGINT) AS nm,
         COUNT(*) AS n
  FROM q GROUP BY dim
),
agg AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
         CAST(MAX(nm // n) AS BIGINT) AS mean_norm_micro,
         SUM(s * s) AS sumsq,
         SUM(ss) AS selfsq,
         MAX(abs(s)) AS max_abs_s
  FROM dims
)
SELECT n_vecs, mean_norm_micro,
       CAST((sumsq - selfsq)
            // ((CAST(n_vecs AS HUGEINT) * n_vecs - n_vecs) * {ISO_SCALE})
            AS BIGINT)
         AS mean_cos_ppm,
       CAST(max_abs_s // n_vecs AS BIGINT) AS max_dim_bias_micro
FROM agg
"""


# ---------------------------------------------------------------------------
# emb_abtt_postprocess — All-but-the-Top anisotropy removal (Mu & Viswanath)
# ---------------------------------------------------------------------------

ABTT_SCALE = 1 << 10   # embedding quantization grid for the exact linear algebra
ABTT_V_SCALE = 1 << 10  # iterate normalization target (power-iteration rounds)
ABTT_ITERS = 3


def emb_abtt_postprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-Top post-processing (Mu & Viswanath 2018, public):
    subtract the corpus mean, remove the projection onto the TOP
    principal direction, and report the isotropy gain — the standard
    fix for the anisotropy emb_isotropy_score diagnoses (contextual
    embeddings live in a narrow cone; removing the common direction
    restores cosine contrast for dedup/ANN thresholds).

    One-row report: ``n_vecs``, ``top_var_ppm`` (share of centered
    variance held by the removed direction), ``mean_cos_ppm_before``
    (identical formula and quantization to emb_isotropy_score — the
    two queries cross-check), and ``mean_cos_ppm_after`` (the same
    collapse on the post-processed unit vectors).

    Exactness: embeddings quantize once to the 2^10 grid; the corpus
    mean rounds to that grid sign-safely ((2|s|+n) div (2n), negated
    back); the top direction comes from 3 unrolled power-iteration
    rounds on the CENTERED integer matrix (the emb_pca_power_iter
    machinery) with per-dim reductions in DECIMAL(38,0)/HUGEINT so the
    z-sums cannot wrap at corpus n; the projection removal
    w' = w − (w·v)·v_d div (v·v) is truncating integer division (both
    engines truncate toward zero); unit components re-quantize through
    the shared sqrt-then-floor recipe (sqrt is bit-identical IEEE in
    both engines); and the final ratios are integer divisions with
    DECIMAL-widened divisors. No float aggregate anywhere.

    Scale shape: the model state (64-long mean, then the 64-long
    iterate per round) travels as driver literals — the k-means
    pattern; the mean and each power round are MAP-ONLY passes (in-row
    zip_with dot, then 64 keyless BIGINT/DECIMAL sum aggregates that
    partial-agg to one row per task — r12: this replaced a 64×
    posexplode + per-round groupBy(vec_id)+join-back, two full-corpus
    exchanges per round); the post-processing itself is a pure map
    pass (all array HOFs in-row) ending in ONE dim-keyed partial-agg
    shuffle that carries before+after moments together. At 100 TB:
    one tiny-key shuffle total, state never exceeds 64 integers.

    Reference parity: reference repo has no embedding post-processing;
    this extends the pipeline family (SURVEY.md LLM-ops mandate).
    """
    emb = parallelize_scan(load_table(spark, sf_dir, "embeddings")).select(
        "embedding", round_grid("embedding", ABTT_SCALE).alias("xq")
    ).localCheckpoint(eager=False)

    # Corpus mean per dim as ONE keyless aggregate (64 BIGINT sums + a
    # count, partial-agg to a single row) — r12: replaced a posexplode +
    # groupBy(dim) pass; the rounding to the grid moves to driver-side
    # Python ints (arbitrary precision; // on the nonnegative rearranged
    # operands equals both engines' truncating DIV).
    mu_row = emb.agg(
        *[
            F.sum(F.expr(f"element_at(xq, {d + 1})")).alias(f"s{d}")
            for d in range(EMB_DIM)
        ],
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n_cnt = int(mu_row["n"])
    mu = []
    for d in range(EMB_DIM):
        s = int(mu_row[f"s{d}"])
        mu.append(
            (2 * s + n_cnt) // (2 * n_cnt)
            if s >= 0
            else -((2 * (-s) + n_cnt) // (2 * n_cnt))
        )

    # centered integer matrix, kept IN-ROW for the power rounds (r12:
    # replaced the 64×-exploded eager checkpoint + per-round
    # groupBy(vec_id)+join-back pair — each round is now one map pass
    # ending in a 1-row 64-sum reduce, zero data-keyed shuffles, the
    # emb_pca_power_iter shape)
    # nb (the pre-processing L2 norm) is hoisted INTO the pinned frame:
    # the qb lambda below divides by it per element, and Spark does not
    # hoist loop-invariant subexpressions out of HOF lambdas — inline it
    # was an O(d²) fold per row; behind the checkpoint barrier it is
    # computed exactly once per vector (r12, the _line_sorted idiom).
    cw = emb.select(
        "embedding",
        F.expr(f"zip_with(xq, {_long_array(mu)}, (a, b) -> a - b)").alias("w"),
        norm_expr("embedding").alias("nb"),
    ).localCheckpoint(eager=False)

    v = _power_iterate(cw, "w", ABTT_ITERS, ABTT_V_SCALE)
    v_arr = _long_array(v)
    vv = sum(int(c) * int(c) for c in v)

    rows = (
        cw
        .select(
            "embedding",
            "w",
            "nb",
            F.expr(_int_dot_sql("w", v_arr)).alias("proj"),
            F.expr(_int_dot_sql("w", "w")).alias("wss"),
        )
        .select(
            "embedding",
            "nb",
            "proj",
            "wss",
            # nullif: a one-row corpus centers to zero, so v = 0 and the
            # oracle's (proj * b) // 0 is NULL
            F.expr(
                f"zip_with(w, {v_arr},"
                f" (a, b) -> a - (proj * b) div nullif({vv}, 0))"
            ).alias("w2"),
        )
        # w2ss hoisted to a projected column (r12): the qa lambda divided
        # by sqrt(aggregate(w2, ...)) PER ELEMENT — Spark does not hoist
        # loop-invariant subexpressions out of HOF lambdas, so the fold
        # ran d times per row (O(d²)). As a column referenced twice
        # (guard + lambda) CollapseProject keeps it a separate
        # projection, evaluated once per row. Same BIGINT fold, same
        # values.
        .withColumn("w2ss", F.expr(_int_dot_sql("w2", "w2")))
        .select(
            "proj",
            "wss",
            half_up_grid("embedding", ISO_SCALE, F.col("nb")).alias("qb"),
            # Zero-guard: a vector fully annihilated by centering + top-
            # direction removal has w2 sum-of-squares 0. Map it to the
            # all-zero unit contribution (mirrored with CASE WHEN in the
            # oracle) rather than the unit quantizer's NULL.
            F.when(
                F.col("w2ss") == 0, F.transform("w2", lambda x: F.lit(0).cast("bigint"))
            )
            .otherwise(
                half_up_grid("w2", ISO_SCALE, F.sqrt(F.col("w2ss").cast("double")))
            )
            .alias("qa"),
        )
    )
    ex = rows.select(
        F.posexplode(F.arrays_zip("qb", "qa")).alias("dim", "z"),
        "proj",
        "wss",
    )
    dims = ex.groupBy("dim").agg(
        F.sum(F.col("z.qb").cast("decimal(38,0)")).alias("sb"),
        F.sum((F.col("z.qb") * F.col("z.qb")).cast("decimal(38,0)")).alias("ssb"),
        F.sum(F.col("z.qa").cast("decimal(38,0)")).alias("sa"),
        F.sum((F.col("z.qa") * F.col("z.qa")).cast("decimal(38,0)")).alias("ssa"),
        # per-row scalars ride the dim-0 slice so they sum once per vector
        F.sum(
            F.when(
                F.col("dim") == 0, (F.col("proj") * F.col("proj")).cast("decimal(38,0)")
            )
        ).alias("p2"),
        F.sum(
            F.when(F.col("dim") == 0, F.col("wss").cast("decimal(38,0)"))
        ).alias("w2s"),
        F.count(F.lit(1)).alias("n"),
    )
    return dims.agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.sum(F.col("sb") * F.col("sb")).alias("sumsq_b"),
        F.sum("ssb").alias("selfsq_b"),
        F.sum(F.col("sa") * F.col("sa")).alias("sumsq_a"),
        F.sum("ssa").alias("selfsq_a"),
        F.max("p2").alias("p2"),
        F.max("w2s").alias("w2s"),
    ).select(
        "n_vecs",
        F.expr(f"CAST(p2 * 1000000 div nullif(w2s * {vv}, 0) AS BIGINT)").alias(
            "top_var_ppm"
        ),
        _mean_cos_ppm("sumsq_b", "selfsq_b").alias("mean_cos_ppm_before"),
        _mean_cos_ppm("sumsq_a", "selfsq_a").alias("mean_cos_ppm_after"),
    )


def _abtt_sql() -> str:
    ctes = [
        f"""e0 AS (
  SELECT vec_id, embedding, {_round_grid_sql('embedding', ABTT_SCALE)} AS xq FROM embeddings
)""",
    ]
    ctes.append("""mudim AS (
  SELECT dim, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS n,
         CAST(CASE WHEN SUM(x) >= 0 THEN (2*SUM(x) + COUNT(*)) // (2*COUNT(*))
              ELSE -((2*(-SUM(x)) + COUNT(*)) // (2*COUNT(*))) END AS BIGINT)
           AS mu
  FROM (
    SELECT UNNEST(generate_series(1, len(xq))) - 1 AS dim, UNNEST(xq) AS x
    FROM e0
  )
  GROUP BY dim
)""")
    ctes.append(
        """mul AS (SELECT list(mu ORDER BY dim) AS mus FROM mudim)"""
    )
    ctes.append(
        """ce AS (
  SELECT vec_id, UNNEST(generate_series(1, len(w))) - 1 AS dim, UNNEST(w) AS w
  FROM (
    SELECT vec_id,
           list_transform(list_zip(xq, mus), z -> z[1] - z[2]) AS w
    FROM e0, mul
  )
)"""
    )
    prev = f"SELECT UNNEST(range(0, {EMB_DIM})) AS dim, CAST(1 AS BIGINT) AS vc"
    ctes.append(f"v0 AS ({prev})")
    for i in range(ABTT_ITERS):
        ctes.append(
            f"y{i} AS (\n"
            f"  SELECT ce.vec_id, CAST(SUM(ce.w * v.vc) AS BIGINT) AS y\n"
            f"  FROM ce JOIN v{i} v USING (dim)\n"
            f"  GROUP BY ce.vec_id)"
        )
        ctes.append(
            f"z{i} AS (\n"
            f"  SELECT ce.dim, CAST(SUM(CAST(ce.w AS HUGEINT) * y{i}.y)"
            f" AS HUGEINT) AS z\n"
            f"  FROM ce JOIN y{i} USING (vec_id)\n"
            f"  GROUP BY ce.dim)"
        )
        ctes.append(
            f"v{i + 1} AS (\n"
            f"  SELECT dim, CAST(CASE WHEN z = 0 THEN 0 ELSE\n"
            f"    (CASE WHEN z > 0 THEN 1 ELSE -1 END)\n"
            f"    * ((abs(z) * {ABTT_V_SCALE}) // (SELECT MAX(abs(z)) FROM z{i}))\n"
            f"    END AS BIGINT) AS vc\n"
            f"  FROM z{i})"
        )
    ctes.append(
        f"vrow AS (SELECT list(vc ORDER BY dim) AS vs,"
        f" CAST(SUM(vc * vc) AS BIGINT) AS vv FROM v{ABTT_ITERS})"
    )
    ctes.append(
        """r1 AS (
  SELECT vec_id, embedding,
         list_transform(list_zip(xq, mus), z -> z[1] - z[2]) AS w
  FROM e0, mul
)"""
    )
    ctes.append(
        """r2 AS (
  SELECT vec_id, embedding, w, vs, vv,
         CAST(list_sum(list_transform(list_zip(w, vs),
              z -> z[1] * z[2])) AS BIGINT) AS proj,
         CAST(list_sum(list_transform(w, x -> x * x)) AS BIGINT) AS wss
  FROM r1, vrow
)"""
    )
    ctes.append(
        """r3 AS (
  SELECT vec_id, embedding, proj, wss,
         list_transform(list_zip(w, vs),
              z -> z[1] - (proj * z[2]) // vv) AS w2
  FROM r2
)"""
    )
    ctes.append(
        f"""r4 AS (
  SELECT vec_id, proj, wss,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE)
                / sqrt(list_sum(list_transform(embedding,
                       u -> CAST(u AS DOUBLE) * CAST(u AS DOUBLE))))
                * {ISO_SCALE} + 0.5) AS BIGINT)) AS qb,
         CASE WHEN list_sum(list_transform(w2, y -> y * y)) = 0
              THEN list_transform(w2, x -> CAST(0 AS BIGINT))
              ELSE list_transform(w2,
           x -> CAST(floor(CAST(x AS DOUBLE)
                / sqrt(CAST(list_sum(list_transform(w2, y -> y * y)) AS DOUBLE))
                * {ISO_SCALE} + 0.5) AS BIGINT)) END AS qa
  FROM r3
)"""
    )
    ctes.append(
        """ex AS (
  SELECT UNNEST(generate_series(1, len(qb))) - 1 AS dim,
         UNNEST(qb) AS qb, UNNEST(qa) AS qa, proj, wss
  FROM r4
)"""
    )
    ctes.append(
        """dims AS (
  SELECT dim,
         CAST(SUM(qb) AS HUGEINT) AS sb, CAST(SUM(qb * qb) AS HUGEINT) AS ssb,
         CAST(SUM(qa) AS HUGEINT) AS sa, CAST(SUM(qa * qa) AS HUGEINT) AS ssa,
         CAST(SUM(CASE WHEN dim = 0 THEN CAST(proj AS HUGEINT) * proj END)
              AS HUGEINT) AS p2,
         CAST(SUM(CASE WHEN dim = 0 THEN CAST(wss AS HUGEINT) END)
              AS HUGEINT) AS w2s,
         COUNT(*) AS n
  FROM ex GROUP BY dim
)"""
    )
    ctes.append(
        """agg AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
         SUM(sb * sb) AS sumsq_b, SUM(ssb) AS selfsq_b,
         SUM(sa * sa) AS sumsq_a, SUM(ssa) AS selfsq_a,
         MAX(p2) AS p2, MAX(w2s) AS w2s
  FROM dims
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n_vecs,
       CAST(p2 * 1000000 // (w2s * vv) AS BIGINT)
         AS top_var_ppm,
       CAST((sumsq_b - selfsq_b)
            // ((CAST(n_vecs AS HUGEINT) * n_vecs - n_vecs) * {ISO_SCALE})
            AS BIGINT) AS mean_cos_ppm_before,
       CAST((sumsq_a - selfsq_a)
            // ((CAST(n_vecs AS HUGEINT) * n_vecs - n_vecs) * {ISO_SCALE})
            AS BIGINT) AS mean_cos_ppm_after
FROM agg, vrow
"""
    )


EMB_ABTT_SQL = _abtt_sql()


# ---------------------------------------------------------------------------
# emb_matryoshka_eval — prefix-dimension retrieval quality (MRL)
# ---------------------------------------------------------------------------

MRL_DIMS = (8, 16, 32, 64)  # prefix lengths; the last is the full dimension


def _guarded_cos(qe: str | Column, ce: str | Column, qss: str, css: str) -> Column:
    """6-decimal cosine of array expressions ``qe``/``ce`` given their
    hoisted sums of squares, the columns ``qss``/``css``."""
    # Zero-norm guard: a pair with an all-zero side (a zero prefix, or a
    # dequantized form collapsed to zero) scores -2.0, below any cosine,
    # not the NULL of cosine_from_parts — the oracles spell out this rule.
    return F.when((F.col(qss) == 0.0) | (F.col(css) == 0.0), F.lit(-2.0)).otherwise(
        cosine_from_parts(dot_expr(qe, ce), F.sqrt(qss), F.sqrt(css))
    )


def _guarded_cos_sql(qe: str, ce: str) -> str:
    """``_guarded_cos`` as oracle SQL, sums of squares inline."""
    qss, css = _ss_sql(qe), _ss_sql(ce)
    return (
        f"CASE WHEN {qss} = 0.0 OR {css} = 0.0"
        f" THEN CAST(-2.0 AS DOUBLE)"
        f" ELSE ROUND({_dot_sql(qe, ce)} / (sqrt({qss}) * sqrt({css})), 6) END"
    )


def _variant_recall(
    pairs: DataFrame, key: str, variants: list[tuple[int, Column]], truth: int
) -> DataFrame:
    """(key, n_hits, recall_ppm): recall@TOP_K of each scoring variant of
    the same (query, neighbor) pairs against the ``truth`` variant's
    ranking. Every pair is scored once with all variants in one
    projection, exploded to (pair, key) and ranked by ONE window per
    (query, key) group."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(v).alias(key), e.alias("cosine"))
                    for v, e in variants
                ]
            )
        ).alias("vc"),
    ).select("query_id", "neighbor_id", f"vc.{key}", "vc.cosine")
    top = (
        _top_k(scored, "query_id", key)
        .select("query_id", "neighbor_id", key)
        .localCheckpoint(eager=False)
    )
    truth_top = top.filter(F.col(key) == truth).select("query_id", "neighbor_id")
    return (
        top.join(truth_top, ["query_id", "neighbor_id"])
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            key,
            "n_hits",
            F.expr(f"n_hits * 1000000 div {N_QUERIES * TOP_K}").alias(
                "recall_ppm"
            ),
        )
        .orderBy(key)
    )


def emb_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval audit (Kusupati et al. 2022, public): how
    much top-{TOP_K} retrieval quality survives truncating embeddings to
    their first 8/16/32 dimensions? The question every vector pipeline
    asks before shrinking its index 8x — MRL-trained models keep most
    recall at small prefixes, and this measures exactly that, against
    the full-dimension ranking as ground truth (the 64-prefix row is the
    truth ranked against itself, recall 10⁶ by construction — the
    built-in sanity row). Complements ``emb_mrl_recall`` above, which
    reports PER-QUERY recall at the single deployed width (16): this is
    the corpus-level curve ACROSS widths that picks that width.

    Protocol: the pinned {N_QUERIES}-query broadcast scan (the
    ann_topk_bruteforce contract) scores each (query, candidate) pair
    ONCE, computing all four prefix cosines in the same projection
    (prefix slices share the scan, not re-reads); one explode to
    (pair, dims) and ONE window per (query, dims) group ranks them
    (round-6 cosine + id tie-break — the established deterministic
    ranking); recall@{TOP_K} joins each prefix's top list against the
    full-dimension top list — a ≤{N_QUERIES}·{TOP_K}·4-row metadata
    join. Scale shape: one broadcast-query scan (candidates never
    shuffle), one window over query-scoped groups, then metadata-sized
    joins — the ann_filtered_search shape with a dims fan-out.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    # Per-vector prefix sum-of-squares hoisted to the VECTOR side (r12):
    # the per-pair projection previously re-folded both norms for every
    # (query, candidate, dims) combination — every candidate's 4 prefix
    # norms were recomputed N_QUERIES times. Each is now computed once
    # per vector, below the join (a child projection cannot be collapsed
    # upward across the join boundary), and the pair evaluates only the
    # dot. The fold expression is IDENTICAL (same left-to-right double
    # reduction over the same prefix), so every cosine is bit-unchanged.
    def pref_ss(d: int) -> Column:
        return sum_sq_expr(F.slice("embedding", 1, d))

    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        *[pref_ss(d).alias(f"qss{d}") for d in MRL_DIMS],
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        *[pref_ss(d).alias(f"css{d}") for d in MRL_DIMS],
    )
    variants = [
        (
            d,
            _guarded_cos(
                F.slice("qv", 1, d), F.slice("cv", 1, d), f"qss{d}", f"css{d}"
            ),
        )
        for d in MRL_DIMS
    ]
    return _variant_recall(_pairs(q, c), "dims", variants, EMB_DIM)


def _matryoshka_sql() -> str:
    arms = "\n  UNION ALL\n  ".join(
        f"SELECT query_id, neighbor_id, {d} AS dims,"
        f" {_guarded_cos_sql(f'qv[1:{d}]', f'cv[1:{d}]')} AS cos"
        f" FROM pairs"
        for d in MRL_DIMS
    )
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < {N_QUERIES}
),
pairs AS (
  SELECT query_id, c.vec_id AS neighbor_id, qv, c.embedding AS cv
  FROM q JOIN embeddings c ON query_id <> c.vec_id
),
scored AS (
  {arms}
),
top AS (
  SELECT query_id, neighbor_id, dims FROM (
    SELECT query_id, neighbor_id, dims,
           ROW_NUMBER() OVER (PARTITION BY query_id, dims
                              ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
),
truth AS (
  SELECT query_id, neighbor_id FROM top WHERE dims = {EMB_DIM}
)
SELECT dims, COUNT(*) AS n_hits,
       COUNT(*) * 1000000 // {N_QUERIES * TOP_K} AS recall_ppm
FROM top JOIN truth USING (query_id, neighbor_id)
GROUP BY dims ORDER BY dims
"""


# ---------------------------------------------------------------------------
# emb_sq_recall — scalar-quantization (SQ4/SQ8) retrieval audit
# ---------------------------------------------------------------------------

SQ_BITS = (4, 8)      # code widths audited; full precision is the truth row
SQ_FP = 10**6         # fixed-point scale for the float components


def emb_sq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization retrieval audit — the OTHER standard index
    compression axis next to emb_matryoshka_eval's dimension truncation:
    clamp every component onto a global [min, max] grid of 2^b levels
    (the FAISS SQ4/SQ8 baseline), DEQUANTIZE, and measure how much
    top-{TOP_K} retrieval survives at 4 and 8 bits per component (8x
    and 4x smaller than float32). The full-precision row rides along as
    the truth ranked against itself (recall 10⁶ — the sanity row).

    Exactness: components quantize to fixed point (round(x·10⁶), the xq
    pattern), the global min/max is a 2-value broadcast aggregate, and
    code/dequantize are pure integer ops — ``code = (x−min)·(2^b−1) div
    range``, ``x' = min + code·range div (2^b−1)`` — identical in both
    engines; the final cosine over dequantized BIGINTs is the round-6
    double contract every ANN query here uses (products ≤ ~10¹² over 64
    terms — exact in doubles).

    Scale shape: one 2-value min/max aggregate, then the pinned
    broadcast-query scan scores each pair once with all variants in one
    projection (the matryoshka shape), one window per query-scoped
    (query, bits) group, and a metadata-sized recall join."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", round_grid("embedding", SQ_FP).alias("xq"))
    rng = base.select(F.explode("xq").alias("c")).agg(
        F.min("c").alias("qlo"), F.max("c").alias("qhi")
    )
    def dequant(col: str, bits: int) -> str:
        # greatest(range, 1): an all-constant corpus (qhi = qlo) must
        # quantize every component to level 0, not divide by zero.
        lev = (1 << bits) - 1
        return (
            f"transform({col}, x -> qlo + ((x - qlo) * {lev}"
            f" div greatest(qhi - qlo, 1)) * (qhi - qlo) div {lev})"
        )

    # Dequantized arrays AND their sum-of-squares are hoisted to the
    # per-VECTOR side (one decode + one norm fold per vector instead of
    # one per pair x variant — the norm-hoisting pattern; r12 extended
    # the hoist from the decode to the norms, which were still being
    # re-folded per pair) and pinned so the collapsed projection cannot
    # re-inline the decode under the pair explode (the HOF re-inlining
    # trap). The norm fold expression is identical (same left-to-right
    # double reduction), so every cosine is bit-unchanged.
    enc = (
        base.crossJoin(F.broadcast(rng))
        .select(
            "vec_id",
            "xq",
            *[
                F.expr(dequant("xq", b)).alias(f"d{b}")
                for b in SQ_BITS
            ],
        )
        .select(
            "vec_id",
            "xq",
            sum_sq_expr("xq").alias("ssfp"),
            *[F.col(f"d{b}") for b in SQ_BITS],
            *[sum_sq_expr(f"d{b}").alias(f"ss{b}") for b in SQ_BITS],
        )
        .localCheckpoint(eager=False)
    )
    q = enc.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("xq").alias("qv"),
        F.col("ssfp").alias("qssfp"),
        *[F.col(f"d{b}").alias(f"qd{b}") for b in SQ_BITS],
        *[F.col(f"ss{b}").alias(f"qss{b}") for b in SQ_BITS],
    )
    c = enc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("xq").alias("cv"),
        F.col("ssfp").alias("cssfp"),
        *[F.col(f"d{b}").alias(f"cd{b}") for b in SQ_BITS],
        *[F.col(f"ss{b}").alias(f"css{b}") for b in SQ_BITS],
    )

    variants = [
        *[
            (b, _guarded_cos(f"qd{b}", f"cd{b}", f"qss{b}", f"css{b}"))
            for b in SQ_BITS
        ],
        (32, _guarded_cos("qv", "cv", "qssfp", "cssfp")),
    ]
    return _variant_recall(_pairs(q, c), "bits", variants, 32)


def _sq_recall_sql() -> str:
    def deq(col: str, bits: int) -> str:
        lev = (1 << bits) - 1
        return (
            f"list_transform({col}, x -> qlo + ((x - qlo) * {lev}"
            f" // GREATEST(qhi - qlo, 1)) * (qhi - qlo) // {lev})"
        )

    arms = "\n  UNION ALL\n  ".join(
        [
            f"SELECT query_id, neighbor_id, {b} AS bits,"
            f" {_guarded_cos_sql(deq('qv', b), deq('cv', b))} AS cos FROM pairs"
            for b in SQ_BITS
        ]
        + [
            f"SELECT query_id, neighbor_id, 32 AS bits,"
            f" {_guarded_cos_sql('qv', 'cv')} AS cos FROM pairs"
        ]
    )
    return f"""
WITH base AS (SELECT vec_id, {_round_grid_sql('embedding', SQ_FP)} AS xq FROM embeddings),
rng AS (
  SELECT MIN(c) AS qlo, MAX(c) AS qhi
  FROM (SELECT UNNEST(xq) AS c FROM base)
),
q AS (
  SELECT vec_id AS query_id, xq AS qv FROM base WHERE vec_id < {N_QUERIES}
),
pairs AS (
  SELECT query_id, c.vec_id AS neighbor_id, qv, c.xq AS cv, qlo, qhi
  FROM q JOIN base c ON query_id <> c.vec_id, rng
),
scored AS (
  {arms}
),
top AS (
  SELECT query_id, neighbor_id, bits FROM (
    SELECT query_id, neighbor_id, bits,
           ROW_NUMBER() OVER (PARTITION BY query_id, bits
                              ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
),
truth AS (
  SELECT query_id, neighbor_id FROM top WHERE bits = 32
)
SELECT bits, COUNT(*) AS n_hits,
       COUNT(*) * 1000000 // {N_QUERIES * TOP_K} AS recall_ppm
FROM top JOIN truth USING (query_id, neighbor_id)
GROUP BY bits ORDER BY bits
"""


QUERIES = {
    emb_sq_recall: _sq_recall_sql(),
    emb_matryoshka_eval: _matryoshka_sql(),
    cluster_kcenter_greedy: _kcenter_sql(),
    emb_isotropy_score: EMB_ISOTROPY_SQL,
    emb_abtt_postprocess: EMB_ABTT_SQL,
    ann_ivf_spill: _ann_ivf_spill_sql(),
    ann_filtered_search: ANN_FILTERED_SQL,
    emb_zscore_outliers: _zscore_sql(),
    ann_topk_gemm: ANN_GEMM_SQL,
    emb_bitpack_hamming_topk: EMB_HAMMING_SQL,
    emb_bitpack_recall_eval: EMB_BITPACK_RECALL_SQL,
    ann_two_stage_rerank: ANN_RERANK_SQL,
    emb_cosine_histogram: EMB_COSHIST_SQL,
    ann_mrr_eval: _ann_mrr_sql(),
    emb_rank_correlation: _rank_corr_sql(),
    ml_knn_classifier_eval: _knn_classifier_sql(),
    ann_ivf_balance_audit: _ivf_balance_sql(),
    ann_ivf_persisted: ANN_IVF_SQL,
    emb_norm_stats: EMB_NORM_SQL,
    semdedup_bucketed: _semdedup_sql(),
    emb_jl_projection_eval: _jl_sql(),
    emb_mrl_recall: _mrl_sql(),
    emb_pca_power_iter: _pca_sql(),
    emb_gram_matrix: _gram_sql(),
    ann_pq_adc: _pq_sql(),
    ann_pq_recall_eval: _pq_recall_sql(),
    ann_recall_eval: _ann_recall_sql(),
    ann_dot_pandas_udf: _pudf_sql(),
    emb_label_centroids: EMB_CENTROIDS_SQL,
    ann_topk_bruteforce: ANN_TOPK_SQL,
    ann_lsh_bucketed: _ann_lsh_sql(),
    emb_hard_negatives: _hard_negatives_sql(),
    ann_mmr_diversified: _mmr_sql(),
    cluster_stability_rand: CLUSTER_STABILITY_SQL,
    ann_multiprobe_lsh: _ann_multiprobe_sql(),
    ann_ivf_nprobe_recall: _ann_ivf_nprobe_sql(),
    emb_cka_alignment: _cka_sql(),
    ann_ivf: ANN_IVF_SQL,
    cluster_kmeans_fixed: _kmeans_sql(),
    cluster_prototype_prune: CLUSTER_PROTO_PRUNE_SQL,
    emb_ood_mahalanobis: EMB_OOD_MAHALANOBIS_SQL,
    dedup_embedding_lsh: _dedup_lsh_sql(),
    knn_graph_lsh: _knn_graph_sql(),
    emb_knn_outlier_score: _knn_outlier_sql(),
    emb_quantize_int8: EMB_QUANTIZE_SQL,
}
