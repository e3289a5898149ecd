"""Oracle-compare the LLM-pipeline extension operators at sf0.001."""

from __future__ import annotations

import functools

import pytest

from kafka_pyspark_bigdata_spark.operators import (
    dedup,
    geo,
    multimodal,
    pipeline,
    quality,
    similarity,
    text,
    timeseries,
)

import __spark_entry__ as entry

from conftest import SF_SMOKE, assert_oracle_match, edge_table, oracle_test

DOCUMENTS_DDL = "doc_id long, text string, lang string, source string, n_chars long"

test_operator_oracle = oracle_test(text, dedup, similarity, multimodal, geo, timeseries)

# the registry by name, for the edge-corpus tests below
QUERY_FN, ORACLE_SQL = entry.queries(), entry.oracle_sql()


def oracle_names(*mods):
    return [fn.__name__ for m in mods for fn, sql in m.QUERIES.items() if sql]


def test_ngram_jaccard_finds_planted_dups(spark):
    """The sf0.001 documents fixture contains planted near-duplicates; the
    inverted-index jaccard and the MinHash+LSH path must agree exactly."""
    a = dedup.dedup_ngram_jaccard(spark, "/root/testdata/sf0.001")
    b = dedup.dedup_minhash_lsh(spark, "/root/testdata/sf0.001")
    pa = {(r.doc_a, r.doc_b) for r in a.collect()}
    pb = {(r.doc_a, r.doc_b) for r in b.collect()}
    # minhash verifies at a lower threshold (0.7 vs 0.8) so it is a superset
    assert pa <= pb
    assert len(pa) > 0


def test_ngram_jaccard_position_filter_loses_no_pair(spark):
    """The r07 PPJoin position filter is an EXACT optimization: rebuild
    the candidate pipeline WITHOUT it (prefix + length filter only) and
    assert the verified pair set is identical. This pins the filter's
    integer bound (9*(1+min(na-ra, nb-rb)) >= 4*(na+nb)) against future
    threshold changes — the bound's constants are tied to t=0.8."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kafka_pyspark_bigdata_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        load_table,
        with_shingles,
    )

    sf = "/root/testdata/sf0.001"
    sh = (
        with_shingles(load_table(spark, sf, "documents"))
        .select("doc_id", "shingles", F.size("shingles").alias("n_sh"))
        .localCheckpoint()
    )
    inv = sh.select("doc_id", "n_sh", F.explode("shingles").alias("s"))
    with_df = inv.withColumn("df", F.count("*").over(Window.partitionBy("s")))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("s"))
    plen = F.col("n_sh") - F.expr("(4 * n_sh + 4) div 5") + F.lit(1)
    prefix = with_df.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= plen
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "s"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "s"
    )
    cand = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter((4 * F.greatest("na", "nb")) <= (5 * F.least("na", "nb")))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    verified = cand.join(x, "doc_a").join(y, "doc_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_common)
    unfiltered = {
        (r.doc_a, r.doc_b)
        for r in verified.select("doc_a", "doc_b", jac.alias("j"))
        .filter(F.col("j") >= JACCARD_THRESHOLD)
        .collect()
    }
    shipped = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_ngram_jaccard(spark, sf).collect()
    }
    assert shipped == unfiltered and len(shipped) > 0


def test_pagerank_mass_bounds(spark):
    """Fixed-point PageRank: ranks positive and total mass ≤ n·SCALE
    (truncating division only LOSES mass, never creates it)."""
    from pyspark.sql import functions as F

    pr = dedup.graph_pagerank(spark, "/root/testdata/sf0.001")
    rows = pr.agg(
        F.count("*").alias("n"),
        F.min("pagerank_scaled").alias("lo"),
        F.sum("pagerank_scaled").alias("total"),
    ).first()
    assert rows.lo > 0
    assert rows.total <= rows.n * dedup.PR_SCALE


def test_multimodal_batch_plumbing(spark):
    """The mapInPandas decode must see real payload bytes (checksum match)."""
    rows = multimodal.mm_decode_image(spark, "/root/testdata/sf0.001").limit(3).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(50)
        .collect()
    }
    for r in rows:
        payload = docs[r.doc_id].encode()
        assert r.n_bytes == len(payload)
        assert r.checksum16 == sum(payload[: multimodal.CHECKSUM_PREFIX]) % 65536


def test_kmeans_objective_nonincreasing(spark, monkeypatch):
    """Lloyd's algorithm never increases the within-cluster squared
    distance: the 2-iteration objective must be <= the 0-iteration
    (initial centroids) objective, and assignments stay in the init id
    range."""
    from pyspark.sql import functions as F

    obj = {}
    for iters in (0, similarity.KMEANS_ITERS):
        monkeypatch.setattr(similarity, "KMEANS_ITERS", iters)
        df = similarity.cluster_kmeans_fixed(spark, "/root/testdata/sf0.001")
        obj[iters] = df.agg(F.sum("sq_dist").alias("o")).first().o
        assert df.filter(
            (F.col("cluster") < 0) | (F.col("cluster") >= similarity.KMEANS_K)
        ).count() == 0
    assert obj[similarity.KMEANS_ITERS] <= obj[0]


def test_cms_never_undercounts(spark):
    """Count-min estimates are >= true counts (one-sided error)."""
    df = text.text_cms_heavy_hitters(spark, "/root/testdata/sf0.001")
    assert df.filter("cms_estimate < true_count").count() == 0
    assert df.count() == text.CMS_TOP


def test_tfidf_ranks_rare_terms(spark):
    """Per doc exactly TFIDF_TOP rows, ranks 1..TOP, and score ordering
    is consistent with the (tf, 1/df) dominance it encodes."""
    from pyspark.sql import functions as F

    df = text.text_tfidf_topterms(spark, "/root/testdata/sf0.001")
    per_doc = df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx")
    )
    assert per_doc.filter("n != mx").count() == 0
    assert df.filter("score_fp < 0 OR df < 1 OR tf < 1").count() == 0
    assert df.filter("score_fp > 1000000 AND df > tf").count() == 0


def test_khop_reach_monotone_in_k(spark, monkeypatch):
    """Reachable-set size grows (weakly) with K, and 1-hop reach equals
    each node's degree in the deduped undirected graph."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(dedup, "KHOP_HOPS", 1)
    one = {r.doc_id: r.n_reachable for r in dedup.graph_khop_reach(spark, "/root/testdata/sf0.001").collect()}
    monkeypatch.setattr(dedup, "KHOP_HOPS", 3)
    three = {r.doc_id: r.n_reachable for r in dedup.graph_khop_reach(spark, "/root/testdata/sf0.001").collect()}
    assert set(one) == set(three)
    assert all(three[k] >= one[k] for k in one)
    pairs = dedup.dedup_minhash_lsh(spark, "/root/testdata/sf0.001").select("doc_a", "doc_b")
    deg = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .distinct()
        .groupBy("doc_a")
        .count()
    )
    degrees = {r.doc_a: r['count'] for r in deg.collect()}
    assert one == degrees


def test_cooccurrence_band_and_symmetry(spark):
    """Pairs are canonicalized (tok_a < tok_b), co_count never exceeds
    either marginal df, and every token sits inside the df band."""
    df = text.text_cooccurrence_pairs(spark, "/root/testdata/sf0.001").cache()
    try:
        assert df.count() == text.COOC_TOP
        assert df.filter("tok_a >= tok_b").count() == 0
        assert df.filter("co_count > df_a OR co_count > df_b").count() == 0
        n_docs = text.load_documents(spark, "/root/testdata/sf0.001").count()
        lo, hi = text.COOC_DF_MIN_PCT * n_docs, text.COOC_DF_MAX_PCT * n_docs
        bad = df.filter(
            f"df_a*100 < {lo} OR df_a*100 > {hi} OR df_b*100 < {lo} OR df_b*100 > {hi}"
        )
        assert bad.count() == 0
    finally:
        df.unpersist()


def test_chunk_windows_tile_exactly(spark):
    """Chunks start on stride multiples, cover every doc end-to-end, and
    per-doc chunk count matches floor((len-1)/stride)+1."""
    from pyspark.sql import functions as F

    df = text.text_chunk_windows(spark, "/root/testdata/sf0.001").cache()
    try:
        assert df.filter(
            f"start_char != chunk_idx * {text.CHUNK_STRIDE}"
            f" OR chunk_len < 1 OR chunk_len > {text.CHUNK_SIZE}"
        ).count() == 0
        per_doc = df.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max(F.col("start_char") + F.col("chunk_len")).alias("covered"),
        )
        docs = text.load_documents(spark, "/root/testdata/sf0.001").select(
            "doc_id", F.length("text").alias("len")
        )
        j = per_doc.join(docs, "doc_id")
        assert j.filter("covered != len").count() == 0
        assert j.filter(
            f"n_chunks != CAST((len - 1) / {text.CHUNK_STRIDE} AS BIGINT) + 1"
        ).count() == 0
    finally:
        df.unpersist()


def test_blocked_levenshtein_finds_planted_pairs(spark):
    """Fixture plants ~4-edit near-dups; blocking must surface them with
    canonical id order and the distance bound respected."""
    df = dedup.dedup_blocked_levenshtein(spark, "/root/testdata/sf0.001").cache()
    try:
        rows = df.collect()
        assert len(rows) > 0
        assert all(r.id_a < r.id_b for r in rows)
        assert all(0 <= r.edit_dist <= dedup.ED_MAX for r in rows)
        assert all(abs(r.len_a - r.len_b) <= r.edit_dist for r in rows)
    finally:
        df.unpersist()


def test_label_centroids_shape_and_norm(spark):
    """640 rows (10 labels x 64 dims), norm consistent with the quantized
    centroid components, n_vecs sums to the corpus size."""
    import math

    rows = similarity.emb_label_centroids(spark, "/root/testdata/sf0.001").collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    for label, rs in by_label.items():
        assert len(rs) == 64
        norm = math.sqrt(sum(round(r.centroid * 1e6) ** 2 for r in rs)) / 1e6
        assert abs(norm - rs[0].centroid_norm) < 1e-9


def test_knn_graph_rank_contract(spark):
    """<=3 neighbors per source, ranks contiguous from 1, cosine
    non-increasing within a source."""
    rows = similarity.knn_graph_lsh(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r.src_id, []).append(r)
    for src, rs in by_src.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= similarity.KNN_K
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.dst_id != src for r in rs)


def test_quantize_error_bound(spark):
    """Floor quantization error is bounded by rng/255 + 1 fixed-point
    units in every dimension; codes stay in [0, 255]."""
    sf = "/root/testdata/sf0.001"
    rows = similarity.emb_quantize_int8(spark, sf).collect()
    assert rows
    emb = similarity.load_table(spark, sf, "embeddings")
    from pyspark.sql import functions as F

    stats = (
        emb.select(F.posexplode("embedding").alias("dim", "val"))
        .select(
            F.expr(
                f"CAST(round(CAST(val AS DOUBLE) * {similarity._Q_SCALE}, 0) AS BIGINT)"
            ).alias("v")
        )
        .agg(F.max("v").alias("hi"), F.min("v").alias("lo"))
        .collect()[0]
    )
    worst_rng = stats.hi - stats.lo
    bound = worst_rng // similarity.Q_LEVELS + 2
    max_checksum = similarity.Q_LEVELS * sum(range(1, 65))
    for r in rows:
        assert 0 <= r.max_abs_err <= bound
        assert 0 <= r.code_checksum <= max_checksum
        assert abs(r.mean_abs_err - r.total_abs_err / 64 / similarity._Q_SCALE) < 1e-12


def test_phash_exact_dups_at_zero_distance(spark):
    """Docs with byte-identical payloads must pair at hamming 0, and every
    reported pair respects the threshold and canonical order."""
    sf = "/root/testdata/sf0.001"
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.mm_phash_dedup(spark, sf).collect()
    }
    assert pairs
    docs = text.load_documents(spark, sf).select("doc_id", "text").collect()
    by_text = {}
    for r in docs:
        by_text.setdefault(r.text, []).append(r.doc_id)
    exact = {
        (a, b)
        for ids in by_text.values()
        for i, a in enumerate(sorted(ids))
        for b in sorted(ids)[i + 1 :]
    }
    for p in exact:
        assert pairs.get(p) == 0
    for (a, b), h in pairs.items():
        assert a < b and 0 <= h <= multimodal.HAM_MAX


def test_pandas_udf_scorer_uses_arrow_and_is_sorted(spark):
    """The UDF must plan as ArrowEvalPython (vectorized), not BatchEval
    (row-at-a-time); scores are descending with vec_id tiebreak."""
    df = similarity.ann_dot_pandas_udf(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    rows = df.collect()
    assert len(rows) == similarity.PUDF_TOP
    assert all(
        (a.dot, -a.vec_id) >= (b.dot, -b.vec_id) for a, b in zip(rows, rows[1:])
    )


def test_embedding_cosine_allpairs_guard(spark, monkeypatch):
    """The all-pairs oracle baseline must refuse big inputs (scale guard):
    with the cap lowered below the fixture's row count it raises, pointing
    at the LSH path; at the real cap the fixture passes untouched."""
    monkeypatch.setattr(dedup, "ALLPAIRS_MAX_ROWS", 1)
    with pytest.raises(ValueError, match="dedup_embedding_lsh"):
        dedup.dedup_embedding_cosine(spark, "/root/testdata/sf0.001")


def test_semdedup_min_id_per_cluster_kept(spark):
    """The minimum vec_id of every cluster has no lower-id neighbor, so it
    must always be kept; counts are consistent with the keep flag."""
    rows = similarity.semdedup_bucketed(spark, "/root/testdata/sf0.001").collect()
    min_per_cluster = {}
    for r in rows:
        min_per_cluster.setdefault(r.cluster, min(r.vec_id for x in [r]))
        min_per_cluster[r.cluster] = min(min_per_cluster[r.cluster], r.vec_id)
    for r in rows:
        assert r.keep == (r.n_dup_lower == 0)
        if r.vec_id == min_per_cluster[r.cluster]:
            assert r.keep


def test_mrl_recall_bounds(spark):
    """Truncated-dim recall is a fraction of the full top-k: k fixed,
    0 <= n_found <= k, recall_fp consistent."""
    rows = similarity.emb_mrl_recall(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == similarity.N_QUERIES
    for r in rows:
        assert r.k == similarity.TOP_K
        assert 0 <= r.n_found <= r.k
        assert r.recall_fp == r.n_found * 1000000 // r.k


def test_minhash_error_is_bounded_estimator(spark):
    """Slot-agreement estimate lives on the 1/16 grid and the error
    column matches |est - exact| for every candidate pair."""
    rows = dedup.sketch_minhash_error(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_sig_match <= dedup.NUM_HASHES
        assert abs(r.est_jaccard - r.n_sig_match / dedup.NUM_HASHES) < 1e-12
        assert abs(r.abs_err - round(abs(r.est_jaccard - r.exact_jaccard), 6)) < 1e-9


def test_pca_power_iter_converges_to_dominant_direction(spark):
    """The fixed-point iterate must be a unit-ish direction (max |comp|
    = 2^10 by construction) and stay stable under one extra iteration
    (sign-aligned dot > 0.99 of max possible) — i.e., it converged."""
    import numpy as np

    from kafka_pyspark_bigdata_spark.operators import similarity as S

    base = S.emb_pca_power_iter(spark, "/root/testdata/sf0.001").collect()
    v3 = np.array([r.v_fp for r in sorted(base, key=lambda r: r.dim)], dtype=float)
    assert int(np.abs(v3).max()) == S.PCA_V_SCALE
    old = S.PCA_ITERS
    try:
        S.PCA_ITERS = old + 1
        more = S.emb_pca_power_iter(spark, "/root/testdata/sf0.001").collect()
    finally:
        S.PCA_ITERS = old
    v4 = np.array([r.v_fp for r in sorted(more, key=lambda r: r.dim)], dtype=float)
    cos = abs(float(v3 @ v4)) / (np.linalg.norm(v3) * np.linalg.norm(v4))
    # the synthetic fixture's top eigenvalues are close, so 3 rounds land
    # near, not on, the dominant direction — stability is what we pin
    assert cos > 0.95, cos


def test_threshold_sweep_cumulative_invariants(spark):
    """The sweep histogram's cumulative column must be a running total of
    the per-level counts from the top, and the estimated-Jaccard percent
    must be the integer scaling of the match count."""
    rows = dedup.dedup_threshold_sweep(spark, "/root/testdata/sf0.001").collect()
    assert rows, "LSH candidates exist in the planted-dup fixture"
    running = 0
    for r in rows:  # already sorted n_match DESC
        running += r.n_pairs
        assert r.n_pairs_at_least == running
        assert r.est_jaccard_pct == (r.n_match * 100) // 16
        assert 0 <= r.n_match <= 16


def test_ivf_persisted_equals_inplan(spark):
    """The persisted-index lifecycle must return exactly the in-plan IVF
    answer: same assignment argmax, same probes, same top-k."""
    a = similarity.ann_ivf(spark, "/root/testdata/sf0.001").collect()
    b = similarity.ann_ivf_persisted(spark, "/root/testdata/sf0.001").collect()
    assert [(r.query_id, r.rank, r.neighbor_id) for r in a] == [
        (r.query_id, r.rank, r.neighbor_id) for r in b
    ]


def test_ivf_queries_agree_with_each_other(spark):
    """ann_ivf, the nprobe recall curve and the spill baseline share one
    coarse quantizer, so their numbers must tie out: the curve's
    nprobe=IVF_NPROBE row counts exactly ann_ivf's hits against brute
    force, the spill baseline (one list per vector, one probe) is the
    curve's nprobe=1 row, and recall never drops as nprobe grows."""
    sf = SF_SMOKE
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_topk_bruteforce(spark, sf).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id) for r in similarity.ann_ivf(spark, sf).collect()
    }
    curve = {
        r.nprobe: r for r in similarity.ann_ivf_nprobe_recall(spark, sf).collect()
    }
    spill = {r.config: r for r in similarity.ann_ivf_spill(spark, sf).collect()}

    assert curve[similarity.IVF_NPROBE].n_hits == len(ivf & truth)
    assert (spill["baseline"].n_sel, spill["baseline"].n_hits) == (
        curve[1].n_sel,
        curve[1].n_hits,
    )
    recalls = [curve[n].recall_ppm for n in sorted(curve)]
    assert recalls == sorted(recalls)


def test_ts_similarity_ranks_by_integer_distance(spark):
    """Pairs come out ordered by the exact integer squared distance and
    the display distance must be sqrt(sum_sq)/100 rounded to 6."""
    import math

    rows = timeseries.ts_similarity_paa(spark, "/root/testdata/sf0.01").collect()
    assert 0 < len(rows) <= timeseries.TS_TOP_PAIRS
    sqs = [r.sum_sq for r in rows]
    assert sqs == sorted(sqs)
    for r in rows:
        assert abs(r.dist - round(math.sqrt(r.sum_sq) / 100, 6)) < 1e-12
        assert r.user_a < r.user_b


def test_autocorr_bounded_and_lag0_would_be_one(spark):
    """Every autocorrelation must lie in [-1, 1]; the centered-integer
    construction also means a user with any variance has r defined."""
    rows = timeseries.ts_autocorr(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) > 0
    for r in rows:
        for lag in timeseries.TS_AC_LAGS:
            v = getattr(r, f"r{lag}")
            assert v is None or -1.0 <= v <= 1.0


def test_holt_linear_matches_python_recurrence(spark):
    """Recompute the Holt fold in plain Python over the same per-type
    daily cent series and compare every output column bit-for-bit; the
    forecasts must be exactly level + h*trend."""
    import collections

    import duckdb as _dd

    from kafka_pyspark_bigdata_spark.operators.timeseries import HOLT_H

    sf = "/root/testdata/sf0.001"
    raw = _dd.sql(
        f"SELECT event_type, CAST(ts AS DATE) AS d,"
        f" CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)"
        f" FROM read_parquet('{sf}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    series: dict[str, dict] = collections.defaultdict(dict)
    for et, d, v in raw:
        series[et][d] = int(v)

    def trunc_div(a: int, b: int) -> int:
        q = abs(a) // b
        return q if a >= 0 else -q

    expect = {}
    for et, by_day in series.items():
        vals = [by_day[d] for d in sorted(by_day)]
        if len(vals) < 2:
            continue
        l, b, sse = vals[1], vals[1] - vals[0], 0
        for x in vals[2:]:
            pred = l + b
            sse += (pred - x) * (pred - x)
            l_new = trunc_div(x + 3 * pred, 4)
            b = trunc_div(l_new - l + b, 2)
            l = l_new
        expect[et] = (len(vals), l, b, sse)
    rows = timeseries.ts_holt_linear(spark, sf).collect()
    got = {
        r.event_type: (r.n_obs, r.level_cents, r.trend_cents, r.sse_cents2)
        for r in rows
    }
    assert got == expect
    for r in rows:
        for h in range(1, HOLT_H + 1):
            assert r[f"forecast_h{h}_cents"] == r.level_cents + h * r.trend_cents


def test_stl_components_recompose_exactly(spark):
    """trend + seasonal + remainder must equal the total (in cents) on
    every full-window day, and edge days must be null."""
    rows = timeseries.ts_stl_lite(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) >= 7
    full = [r for r in rows if r.trend is not None]
    assert len(full) == len(rows) - 6  # 3 edge days each side
    for r in full:
        assert abs((r.trend + r.seasonal + r.remainder) - r.total_cents) < 2e-6 * max(1, r.total_cents)


def _brute_jaccard_pairs(texts: list[str], threshold: float):
    """Python reference: exact Jaccard over distinct word-3-gram shingles."""
    sets = []
    for t in texts:
        toks = [w for w in t.lower().split() if w]
        sets.append(
            {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
            if len(toks) >= 3
            else None
        )
    out = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            if sets[i] and sets[j]:
                inter = len(sets[i] & sets[j])
                jac = inter / (len(sets[i]) + len(sets[j]) - inter)
                if jac >= threshold:
                    out.add((i, j))
    return out


def test_ppjoin_matches_bruteforce_on_random_corpora(spark, tmp_path):
    """Property: the prefix-filtered PPJoin plan returns EXACTLY the pairs
    a quadratic Python brute force finds — across random corpora with
    planted near-duplicates (the prefix lemma loses nothing)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(30)]
    for trial in range(3):
        texts = []
        for _ in range(12):
            texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))))
        # plant near-dups: copy with small perturbations
        for src in (0, 3, 5):
            words = texts[src].split()
            if len(words) > 4:
                words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
        d = str(tmp_path / f"corpus{trial}")
        spark.createDataFrame(
            [(i, t, "en", "srcX", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(d + "/documents.parquet")
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup.dedup_ngram_jaccard(spark, d).collect()
        }
        want = _brute_jaccard_pairs(texts, dedup.JACCARD_THRESHOLD)
        assert got == want, (trial, got ^ want)


def test_modality_router_quarantines_magicless_blobs(spark):
    """Every modality class is present, counts tile the corpus, and the
    magic-less slice lands in 'unknown' (the quarantine path)."""
    rows = {r.modality: r for r in multimodal.mm_modality_router(
        spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {"png", "jpeg", "wav", "unknown"}
    assert rows["unknown"].n_files > 0
    import duckdb
    n_docs = duckdb.sql(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    assert sum(r.n_files for r in rows.values()) == n_docs


def test_rake_scores_multiword_phrases_above_their_parts(spark):
    """RAKE's defining property: a multi-word phrase accumulates its
    words' scores, so the top phrase is at least as long-scored as any
    single word, and ranks are dense from 1."""
    rows = text.text_keyphrase_rake(spark, "/root/testdata/sf0.001").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert rows and rows[0].score >= rows[-1].score
    assert any(" " in r.phrase for r in rows), "multi-word phrases extracted"


def test_dbscan_roles_are_consistent(spark):
    """Core points meet the minPts bar, border points are non-core with a
    core neighbor (so with >0 neighbors), and roles tile the users."""
    rows = geo.geo_dbscan_core(spark, "/root/testdata/sf0.01").collect()
    assert rows
    roles = {r.role for r in rows}
    assert roles <= {"core", "border", "noise"} and "core" in roles
    for r in rows:
        if r.role == "core":
            assert r.n_neighbors >= geo.DBSCAN_MINPTS
        elif r.role == "border":
            assert 0 < r.n_neighbors < geo.DBSCAN_MINPTS
        else:
            assert r.n_neighbors < geo.DBSCAN_MINPTS


def test_fertility_at_least_one_piece_per_word(spark):
    """The regex tokenizer can only split words further, so fertility
    is >= 1.0 (1e6 ppm) for every language, and zh (non-latin chars
    become punct pieces) must shatter hardest."""
    rows = text.corpus_tokenizer_fertility(spark, "/root/testdata/sf0.01").collect()
    assert rows
    by_lang = {r.lang: r for r in rows}
    for r in rows:
        assert r.fertility_ppm >= 1_000_000
    if "zh" in by_lang and "en" in by_lang:
        assert by_lang["zh"].fertility_ppm >= by_lang["en"].fertility_ppm


def test_ivf_balance_shares_tile_and_skew_sane(spark):
    """List shares must sum to ~1e6 ppm, every list belongs to the
    quantizer, and max/mean >= 1e6 by definition."""
    rows = similarity.ann_ivf_balance_audit(spark, "/root/testdata/sf0.01").collect()
    assert rows and all(0 <= r.list_id < similarity.IVF_NLIST for r in rows)
    assert abs(sum(r.share_ppm for r in rows) - 1_000_000) < len(rows)
    assert all(r.max_over_mean_ppm >= 1_000_000 for r in rows)


def test_langid_confusion_rows_tile_each_label(spark):
    """Per-label shares must sum to ~1e6 ppm and cells tile the corpus."""
    import duckdb as _d

    rows = text.corpus_langid_confusion(spark, "/root/testdata/sf0.01").collect()
    from collections import defaultdict

    by_label = defaultdict(int)
    for r in rows:
        by_label[r.labeled] += r.share_of_label_ppm
    for lab, tot in by_label.items():
        assert abs(tot - 1_000_000) < 4, (lab, tot)
    n = _d.sql("SELECT COUNT(*) FROM '/root/testdata/sf0.01/documents.parquet'").fetchone()[0]
    assert sum(r.n_docs for r in rows) == n


def test_operators_survive_tiny_skewed_corpus(spark, tmp_path):
    """Robustness: a 3-doc corpus where one language has a single doc and
    texts are minimal must not crash the gates/dedup/divergence ops
    (empty results are fine; exceptions are not)."""
    d = str(tmp_path / "tiny")
    spark.createDataFrame(
        [
            (0, "alpha beta gamma delta", "en", "s0", 22),
            (1, "alpha beta gamma delta", "en", "s0", 22),
            (2, "um dois", "pt", "s1", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(d + "/documents.parquet")
    from kafka_pyspark_bigdata_spark.operators import quality as Q

    assert dedup.dedup_exact(spark, d).count() >= 1  # the planted dup pair
    assert dedup.dedup_ngram_jaccard(spark, d).count() >= 1
    assert Q.corpus_quality_floor(spark, d).count() == 2  # one row per lang
    assert text.text_source_divergence(spark, d).count() == 1  # one pair
    assert text.corpus_tokenizer_fertility(spark, d).count() == 2
    assert dedup.dedup_threshold_sweep(spark, d).count() >= 1


def test_trimmed_mean_is_robust_to_outlier(spark, tmp_path):
    """Planting one extreme outlier must not move the trimmed mean
    (that's the statistic's whole point), while the plain mean jumps."""
    from kafka_pyspark_bigdata_spark.plans.mining import q_trimmed_mean_pandas

    rows = q_trimmed_mean_pandas(spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.trimmed_mean > 0 for r in rows)


def test_arrow_kernel_plans_without_pandas_conversion(spark):
    """The mapInArrow kernel must appear as a PythonMapInArrow node (not
    MapInPandas) and byte counts must be positive."""
    df = multimodal.mm_arrow_byte_stats(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    rows = df.collect()
    assert rows and all(r.n_bytes > 0 for r in rows)


def test_two_phase_cc_agrees_with_label_propagation(spark):
    """Two independent CC algorithms must produce identical labelings."""
    sf = "/root/testdata/sf0.001"
    a = {(r.doc_id, r.cluster_id) for r in dedup.dedup_clusters(spark, sf).collect()}
    b = {(r.doc_id, r.cluster_id) for r in dedup.graph_cc_two_phase(spark, sf).collect()}
    assert a == b and len(a) > 0


def test_dedup_savings_consistent_with_clusters(spark):
    """Histogram mass must equal the clustered-doc count and removable =
    docs minus one survivor per cluster."""
    sf = "/root/testdata/sf0.001"
    labels = dedup.dedup_clusters(spark, sf).collect()
    rows = dedup.dedup_savings_summary(spark, sf).collect()
    n_clustered = len(labels)
    n_clusters = len({r.cluster_id for r in labels})
    assert sum(r.n_docs_in_size for r in rows) == n_clustered
    assert sum(r.n_clusters for r in rows) == n_clusters
    assert sum(r.n_removable for r in rows) == n_clustered - n_clusters


def test_ann_gemm_matches_bruteforce_sets(spark):
    """The GEMM top-k must return the SAME neighbor sets as the exact
    zip_with bruteforce — BLAS only changes float summation order, and
    the fixture has no near-ties at TOP_K boundaries."""
    from kafka_pyspark_bigdata_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_gemm,
    )

    sf = "/root/testdata/sf0.001"
    bf = {(r.query_id, r.neighbor_id) for r in ann_topk_bruteforce(spark, sf).collect()}
    gm = {(r.query_id, r.neighbor_id) for r in ann_topk_gemm(spark, sf).collect()}
    assert bf == gm


def test_lttb_keeps_endpoints_and_bucket_bounds(spark):
    """LTTB: one point per non-empty bucket, bucket ids in range, and the
    endpoint rule (first/last buckets keep their earliest point)."""
    from kafka_pyspark_bigdata_spark.operators.timeseries import (
        LTTB_BUCKETS,
        ts_downsample_lttb,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = ts_downsample_lttb(spark, sf).collect()
    assert all(0 <= r.bucket < LTTB_BUCKETS for r in rows)
    per_type = {}
    for r in rows:
        per_type.setdefault(r.event_type, []).append(r)
    ev = load_table(spark, sf, "events")
    first_ts = {
        r.event_type: r.mn
        for r in ev.groupBy("event_type")
        .agg(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("mn"))
        .collect()
    }
    for et, sel in per_type.items():
        buckets = [r.bucket for r in sel]
        assert len(buckets) == len(set(buckets))
        assert min(sel, key=lambda r: r.bucket).sel_ts == first_ts[et]


def test_bm25_hits_contain_query_terms_and_order(spark):
    """BM25: every returned doc contains at least one query term, scores
    are non-negative and descending (doc_id tiebreak), and a doc hitting
    more DISTINCT terms with equal tf profile can't score zero."""
    from kafka_pyspark_bigdata_spark.operators.text import (
        SEARCH_TERMS,
        SEARCH_TOP,
        text_bm25_topk,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = text_bm25_topk(spark, sf).collect()
    assert 0 < len(rows) <= SEARCH_TOP
    scores = [(r.score_ppm, r.doc_id) for r in rows]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    assert all(r.score_ppm > 0 for r in rows)
    assert all(1 <= r.n_terms_hit <= len(SEARCH_TERMS) for r in rows)
    docs = dict(
        load_table(spark, sf, "documents")
        .select("doc_id", F.lower("text").alias("t"))
        .collect()
    )
    for r in rows:
        assert any(term in docs[r.doc_id] for term in SEARCH_TERMS)


def test_bitpack_hamming_matches_python_recompute(spark):
    """Bit-packed Hamming: recompute each returned pair's distance from
    the raw float signs in Python — the packed XOR+popcount must agree
    exactly — and ranks must be 1..K per query, ascending in distance."""
    from kafka_pyspark_bigdata_spark.operators.similarity import (
        TOP_K,
        emb_bitpack_hamming_topk,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    emb = {
        r.vec_id: r.embedding
        for r in load_table(spark, sf, "embeddings").collect()
    }
    rows = emb_bitpack_hamming_topk(spark, sf).collect()
    assert rows
    per_q = {}
    for r in rows:
        assert 0 <= r.hamming <= 64
        expected = sum(
            (a >= 0) != (b >= 0)
            for a, b in zip(emb[r.query_id], emb[r.neighbor_id])
        )
        assert r.hamming == expected, (r.query_id, r.neighbor_id)
        per_q.setdefault(r.query_id, []).append(r)
    for q, sel in per_q.items():
        assert [r.rank for r in sel] == list(range(1, len(sel) + 1))
        assert len(sel) == min(TOP_K, len(emb) - 1)
        hams = [r.hamming for r in sel]
        assert hams == sorted(hams)


def test_bigram_lm_score_bounds_and_boilerplate_signal(spark):
    """Bigram LM score: every scored doc has >= 1 bigram, the mean-ppm is
    within (0, 1e6], and a doc made of the corpus's most frequent bigram
    would bound the score from above — verified by recomputing one doc's
    score from raw counts."""
    from collections import Counter

    from kafka_pyspark_bigdata_spark.operators.text import (
        text_bigram_lm_score,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    rows = text_bigram_lm_score(spark, sf).collect()
    assert rows
    assert all(r.n_bigrams >= 1 for r in rows)
    assert all(0 < r.mean_bg_ppm <= 1_000_000 for r in rows)
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    corpus = Counter()
    per_doc = {}
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if bgs:
            per_doc[d.doc_id] = bgs
        corpus.update(bgs)
    total = sum(corpus.values())
    probe = rows[0]
    bgs = per_doc[probe.doc_id]
    expect = sum(corpus[bg] for bg in bgs) * 1_000_000 // (len(bgs) * total)
    assert probe.n_bigrams == len(bgs)
    assert probe.mean_bg_ppm == expect


def test_cosine_histogram_is_deterministic_sample_and_sums_to_total(spark):
    """Cosine histogram: bins are in [-10, 10], shares sum to ~1e6, the
    pair count matches the congruence-class predicate exactly, and the
    histogram is identical across two runs (deterministic sampling)."""
    from kafka_pyspark_bigdata_spark.operators.similarity import (
        _coshist_mod,
        emb_cosine_histogram,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    rows = emb_cosine_histogram(spark, sf).collect()
    assert rows
    assert all(-10 <= r.bin <= 10 for r in rows)
    n_total = sum(r.n for r in rows)
    ids = [
        r.vec_id for r in load_table(spark, sf, "embeddings").select("vec_id").collect()
    ]
    mod = _coshist_mod(len(ids))
    expected_pairs = sum(
        1
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if (31 * min(a, b) + 17 * max(a, b)) % mod == 0
    )
    assert n_total == expected_pairs
    share = sum(r.share_ppm for r in rows)
    assert 1_000_000 - len(rows) <= share <= 1_000_000
    again = emb_cosine_histogram(spark, sf).collect()
    assert [(r.bin, r.n) for r in rows] == [(r.bin, r.n) for r in again]


def test_lsh_tuning_curve_monotone_in_bands(spark):
    """LSH tuning: more bands (fewer rows/band) must never DECREASE the
    candidate count, theory capture is monotone increasing in bands, and
    verified survivors never exceed candidates."""
    from kafka_pyspark_bigdata_spark.operators.dedup import (
        dedup_lsh_tuning_curve,
    )

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        dedup_lsh_tuning_curve(spark, sf).collect(), key=lambda r: r.n_bands
    )
    assert [r.n_bands * r.rows_per_band for r in rows] == [16, 16, 16]
    for r in rows:
        assert 0 <= r.n_verified <= r.n_candidates
    cands = [r.n_candidates for r in rows]
    theory = [r.theory_capture_ppm for r in rows]
    assert cands == sorted(cands)
    assert theory == sorted(theory)


# Every dedup.py query that reads only `documents` through the shared
# shingle / LSH / verify / edge helpers: the LSH family, the other pair
# finders, and every consumer of the dup_pairs graph.
EMPTY_CANDIDATE_QUERIES = [
    "dedup_lsh_tuning_curve",
    "dedup_minhash_lsh",
    "sketch_minhash_error",
    "dedup_threshold_sweep",
    "dedup_bbit_minhash",
    "dedup_incremental_minhash",
    "dedup_containment",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "dedup_clusters",
    "graph_cc_two_phase",
    "graph_triangle_count",
    "graph_pagerank",
    "graph_hits",
    "graph_label_propagation",
    "graph_khop_reach",
    "graph_hyperball_nf",
    "graph_modularity",
    "dedup_savings_summary",
    "corpus_survivorship",
    "dedup_keep_best_quality",
    "corpus_dup_source_matrix",
]


@pytest.mark.parametrize("name", EMPTY_CANDIDATE_QUERIES)
def test_empty_candidate_set_matches_oracle(spark, tmp_path, name):
    """A corpus with no near-duplicate pairs — four documents that share
    no token — so every candidate set and the dup-pair graph are empty.
    Each query still agrees with its oracle. The tuning curve reports 0
    candidates, 0 verified and a NULL precision for every config, as the
    oracle's COUNT(*) and 0 // 0 do (a sum over zero candidate rows would
    be NULL)."""
    d = str(tmp_path / "no_dups")
    texts = [
        "alpha beta gamma delta epsilon",
        "red green blue cyan magenta",
        "oak pine elm ash birch",
        "north south east west center",
    ]
    duck = edge_table(
        spark, d, "documents",
        [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)],
        DOCUMENTS_DDL,
    )
    sdf = assert_oracle_match(spark, duck, QUERY_FN[name], ORACLE_SQL[name], sf_dir=d)
    if name == "dedup_lsh_tuning_curve":
        assert sdf.n_candidates.tolist() == [0, 0, 0]
        assert sdf.n_verified.tolist() == [0, 0, 0]
        assert sdf.precision_ppm.isna().all()


# Short and empty texts: a zero-token document, a whitespace-only one, two
# 1-token ones and a repeated stopword. The fixtures' shortest text is over
# 40 chars, so no fixture sweep reaches these.
DEGENERATE_TEXTS = ["", "   ", "x", "a", "The the THE"]


DEGENERATE_CASES = oracle_names(text, quality, pipeline) + ["text_boilerplate_spans"]


@pytest.fixture(scope="module")
def degenerate_corpus(spark, tmp_path_factory):
    """sf0.001's first 40 documents plus DEGENERATE_TEXTS, written as a
    documents table, and a DuckDB connection with its view."""
    d = str(tmp_path_factory.mktemp("degenerate"))
    head = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .orderBy("doc_id").limit(40).collect()
    )
    rows = [tuple(r) for r in head] + [
        (40 + i, t, "en", f"src{i}", len(t)) for i, t in enumerate(DEGENERATE_TEXTS)
    ]
    return d, edge_table(spark, d, "documents", rows, DOCUMENTS_DDL)


@pytest.mark.parametrize("name", DEGENERATE_CASES)
def test_degenerate_corpus_matches_oracle(spark, degenerate_corpus, name):
    """Every corpus-text query agrees with its oracle when documents have
    zero, one or only stopword tokens: a per-token ratio over zero tokens
    is NULL, the token-length sum of no tokens is NULL, and shingling a
    document shorter than a shingle raises nothing."""
    d, duck = degenerate_corpus
    assert_oracle_match(spark, duck, QUERY_FN[name], ORACLE_SQL[name], sf_dir=d)


@pytest.mark.parametrize(
    "name", ["corpus_tokenizer_fertility", "corpus_token_budget"]
)
def test_zero_token_group_matches_oracle(spark, tmp_path, name):
    """A language and a source whose only document has no tokens: the
    per-group ratio over zero words or tokens is NULL, as the oracle's
    ``x // 0`` is, not a division-by-zero error."""
    d = str(tmp_path / "zero_group")
    rows = [
        (0, "the cat sat on the mat", "en", "src1"),
        (1, "a dog and a cat", "en", "src2"),
        (2, "   ", "xx", "src3"),
    ]
    duck = edge_table(
        spark, d, "documents",
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        DOCUMENTS_DDL,
    )
    assert_oracle_match(spark, duck, QUERY_FN[name], ORACLE_SQL[name], sf_dir=d)


def written_corpora(spark, tmp_path_factory, table, corpora, ddl):
    """corpus name -> (sf_dir, DuckDB connection) of an edge fixture whose
    ``table`` holds ``corpora[name]`` (Spark DDL ``ddl``), written once."""

    @functools.cache
    def get(name):
        d = str(tmp_path_factory.mktemp(name))
        return d, edge_table(spark, d, table, corpora[name], ddl)

    return get


# Edge embedding corpora built from sf0.001's first 40 vectors: one
# all-zero vector appended (a failed encode), the first vector alone, and
# three exact copies of vector 0 appended (cosine ties at 1.0). No fixture
# has a zero vector or fewer than TOP_K + 1 rows. The IVF queries also run
# with centroid 12 (not a query) zeroed: every similarity to it is NULL.
# ann_topk_gemm also runs with query vector 3 zeroed: its every score is
# NULL, so its neighbors are the smallest other ids.
EDGE_EMBEDDINGS = ["zero_vector", "one_row", "duplicates"]
IVF_QUERIES = [n for n in oracle_names(similarity) if n.startswith("ann_ivf")]

EMBEDDING_CASES = [
    (name, corpus)
    for corpus in EDGE_EMBEDDINGS
    for name in oracle_names(similarity) + ["dedup_embedding_cosine"]
] + [(name, "zero_centroid") for name in IVF_QUERIES] + [
    ("ann_topk_gemm", "zero_query")
]


@pytest.fixture(scope="module")
def edge_embeddings(spark, tmp_path_factory):
    head = [
        tuple(r)
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .orderBy("vec_id").limit(40).collect()
    ]
    _, vec0, label0 = head[0]
    zero = [0.0] * similarity.EMB_DIM
    corpora = {
        "zero_vector": head + [(40, zero, label0)],
        "one_row": head[:1],
        "duplicates": head + [(40 + i, vec0, label0) for i in range(3)],
        "zero_centroid": [(i, zero if i == 12 else v, lab) for i, v, lab in head],
        "zero_query": [(i, zero if i == 3 else v, lab) for i, v, lab in head],
    }
    ddl = "vec_id long, embedding array<float>, label int"
    return written_corpora(spark, tmp_path_factory, "embeddings", corpora, ddl)


@pytest.mark.parametrize("name,corpus", EMBEDDING_CASES)
def test_degenerate_embeddings_match_oracle(spark, edge_embeddings, name, corpus):
    """Every embedding query agrees with its oracle on a zero vector, a
    one-row table and exact duplicates, and every IVF query on a zero
    centroid: a cosine, unit vector or ratio over a zero norm or an empty
    pair set is NULL, as DuckDB's ``x / 0`` is; NULL scores rank last;
    equal scores resolve toward the smaller id; and no query pairs a
    vector with itself."""
    d, duck = edge_embeddings(corpus)
    assert_oracle_match(spark, duck, QUERY_FN[name], ORACLE_SQL[name], sf_dir=d)


# Edge events corpora cut from sf0.001 (1,000 events over 30 days): the
# first 200 events by ts (6 days, shorter than the largest lag, 7), the
# first day's events, the first event alone, and no events.
EDGE_EVENTS = ["first_200", "one_day", "one_row", "empty"]
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)
# Every time-series query but ts_trend_forecast, which reads TPC-H tables,
# runs on every corpus. The queries that divide by an event count run on
# the corpora where that count is zero: no event after mid-month
# (histogram drift), nobody at a funnel stage, one event in a type
# (z-score's n - 1) and one user, so one empty A/B arm. The streaming
# queries that replay events from written files run on one event and none
# (each replay part is still one file, so one micro-batch), and the two
# partitioned-write queries on none (a write with no rows has no files).
# Every events query built on a shared timeline, rank, funnel, daily-grid
# or trailing-window rule runs on one event and none, and sketch_kmv_setops
# also on sf0.001 without its purchases (an empty set still counts 0).
REPLAY_QUERIES = [
    "streaming_exactly_once_sink",
    "streaming_upsert_latest",
    "streaming_watermark_lates",
    "streaming_checkpoint_resume",
]
EVENTS_CASES = [
    (name, corpus)
    for corpus in EDGE_EVENTS
    for name in oracle_names(timeseries)
    if name != "ts_trend_forecast"
] + [
    ("q_histogram_drift", "first_200"),
    ("q_histogram_drift", "one_day"),
    ("q_histogram_drift", "one_row"),
    ("q_funnel_windowed", "one_row"),
    ("q_funnel_windowed", "empty"),
    ("q_zscore_outliers", "one_row"),
    ("q_ab_test_conversion", "one_row"),
] + [
    (name, corpus) for name in REPLAY_QUERIES for corpus in ["one_row", "empty"]
] + [
    ("q_dpp_prune", "empty"),
    ("q_partitioned_scan", "empty"),
] + [
    (name, corpus)
    for name in [
        "q_sessionize",
        "q_moving_avg",
        "q_lead_gap",
        "q_mad_outliers",
        "q_scd2_intervals",
        "q_attribution_linear",
        "q_rolling_median",
        "q_funnel",
        "q_top_paths",
        "q_bot_flag",
        "q_cohort_retention",
        "q_resample_locf",
        "q_ewma_decay",
        "q_gapfill_interpolate",
        "q_event_transition_matrix",
        "q_wow_growth",
        "q_rolling_wau",
        "q_time_weighted_avg",
        "q_dau_mau_stickiness",
    ]
    for corpus in ["one_row", "empty"]
] + [
    ("sketch_kmv_setops", corpus) for corpus in ["one_row", "empty", "no_purchase"]
]


@pytest.fixture(scope="module")
def edge_events(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    ev = load_table(spark, SF_SMOKE, "events").orderBy("ts", "event_id")
    rows = ev.withColumn("day", F.to_date("ts")).collect()
    corpora = {
        "first_200": rows[:200],
        "one_day": [r for r in rows if r.day == rows[0].day],
        "one_row": rows[:1],
        "empty": [],
        "no_purchase": [r for r in rows if r.event_type != "purchase"],
    }
    corpora = {k: [tuple(r)[:-1] for r in v] for k, v in corpora.items()}
    return written_corpora(spark, tmp_path_factory, "events", corpora, EVENTS_DDL)


@pytest.mark.parametrize("name,corpus", EVENTS_CASES)
def test_degenerate_timeseries_match_oracle(spark, edge_events, name, corpus):
    """Every events time-series query agrees with its oracle on a series
    shorter than its lag, one day, one event and none: a lag-L statistic
    over n ≤ L days is NULL with n − L overlap days, a correlation over
    an overlap with no variance is NULL, and nothing raises. So do the
    events queries whose divisor (an event count, or a variance) is zero
    there: the ratio is NULL, as DuckDB's ``x // 0`` is. So do the
    streaming replays and partitioned writes of one event or none, the
    events queries on the shared per-user rules on one event or none, and
    the KMV set operations when a set is empty."""
    d, duck = edge_events(corpus)
    assert_oracle_match(spark, duck, QUERY_FN[name], ORACLE_SQL[name], sf_dir=d)


def test_lsh_candidate_family_agrees_with_itself(spark):
    """The LSH queries share one candidate rule and one verify rule. C =
    the doc pairs that agree on every signature of at least one band,
    recomputed here in Python from the signatures. The sweep histogram,
    the estimator audits and the (4x4) tuning row each cover exactly C;
    the tuning row's survivors are dedup_minhash_lsh's pairs, and the
    incremental probe finds exactly those of them with one new doc."""
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    sh = dedup.with_shingles(docs).select("doc_id", "shingles")
    sigs = dedup.minhash_sigs(sh).collect()
    rows = dedup.ROWS_PER_BAND
    buckets = {}
    for r in sigs:
        for b in range(dedup.NUM_BANDS):
            key = (b, tuple(r[f"sig{b * rows + i}"] for i in range(rows)))
            buckets.setdefault(key, []).append(r.doc_id)
    cand = {
        (x, y) for ids in buckets.values() for x in ids for y in ids if x < y
    }
    assert cand, "the planted-dup fixture has LSH candidates"

    sweep = dedup.dedup_threshold_sweep(spark, SF_SMOKE).collect()
    assert sum(r.n_pairs for r in sweep) == len(cand)
    for q in (dedup.sketch_minhash_error, dedup.dedup_bbit_minhash):
        pairs = [(r.doc_a, r.doc_b) for r in q(spark, SF_SMOKE).collect()]
        assert len(pairs) == len(cand) and set(pairs) == cand, q.__name__
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    assert lsh <= cand
    (row,) = [
        r for r in dedup.dedup_lsh_tuning_curve(spark, SF_SMOKE).collect()
        if (r.n_bands, r.rows_per_band) == (dedup.NUM_BANDS, dedup.ROWS_PER_BAND)
    ]
    assert row.n_candidates == len(cand)
    assert row.n_verified == len(lsh)

    def new(doc):
        return doc % dedup.INCR_NEW_MOD == dedup.INCR_NEW_MOD - 1

    incr = [
        (min(r.new_doc, r.dup_of_old), max(r.new_doc, r.dup_of_old))
        for r in dedup.dedup_incremental_minhash(spark, SF_SMOKE).collect()
    ]
    assert len(incr) == len(set(incr))
    assert set(incr) == {(a, b) for a, b in lsh if new(a) != new(b)}


def test_boilerplate_spans_reach_recompute(spark):
    """Boilerplate spans: reach counts match a Python recompute of
    distinct-doc frequency over 3-gram shingles."""
    from collections import defaultdict

    from kafka_pyspark_bigdata_spark.operators.dedup import (
        BOILERPLATE_MIN_DOCS,
        text_boilerplate_spans,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    rows = text_boilerplate_spans(spark, sf).collect()
    assert rows
    docs = load_table(spark, sf, "documents").select("doc_id", "text").collect()
    reach = defaultdict(set)
    n_docs = 0
    for d in docs:
        toks = [t for t in d.text.lower().split() if t]
        if len(toks) < 3:
            continue
        n_docs += 1
        for i in range(len(toks) - 2):
            reach[" ".join(toks[i : i + 3])].add(d.doc_id)
    for r in rows:
        assert r.n_docs_with == len(reach[r.span]), r.span
        assert r.n_docs_with >= BOILERPLATE_MIN_DOCS
        assert r.reach_ppm == r.n_docs_with * 1_000_000 // n_docs


def test_two_stage_rerank_subsets_shortlist_and_orders_by_cosine(spark):
    """Two-stage rerank: every final hit must come from the Hamming
    shortlist, ranks are cosine-ordered (not Hamming-ordered), and at
    the tiny fixture the result matches full bruteforce top-K whenever
    the shortlist covers the corpus (n-1 <= shortlist size)."""
    from kafka_pyspark_bigdata_spark.operators.similarity import (
        RERANK_SHORTLIST,
        TOP_K,
        ann_topk_bruteforce,
        ann_two_stage_rerank,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    rows = ann_two_stage_rerank(spark, sf).collect()
    assert rows
    per_q = {}
    for r in rows:
        assert 1 <= r.ham_rank <= RERANK_SHORTLIST
        per_q.setdefault(r.query_id, []).append(r)
    for q, sel in per_q.items():
        assert [r.rank for r in sel] == list(range(1, len(sel) + 1))
        cosines = [r.cosine for r in sel]
        assert cosines == sorted(cosines, reverse=True)
    n = load_table(spark, sf, "embeddings").count()
    if n - 1 <= RERANK_SHORTLIST:
        bf = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in ann_topk_bruteforce(spark, sf).collect()
        }
        rr = {(r.query_id, r.neighbor_id, r.rank) for r in rows}
        assert bf == rr


def test_cross_correlation_bounds_and_lag0_self_consistency(spark):
    """Cross-correlation: r in [-1, 1], overlap lengths shrink with lag,
    and the lag-0 r matches a numpy recompute on the daily totals."""
    import numpy as np

    from kafka_pyspark_bigdata_spark.operators.timeseries import (
        XCORR_A,
        XCORR_B,
        XCORR_LAGS,
        ts_cross_correlation,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = {r.lag: r for r in ts_cross_correlation(spark, sf).collect()}
    assert set(rows) == set(XCORR_LAGS)
    for lag, r in rows.items():
        assert -1.0 <= r.r <= 1.0
        assert r.n_overlap == rows[0].n_overlap - lag
    ev = (
        load_table(spark, sf, "events")
        .select(
            "event_type",
            F.to_date("ts").alias("d"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("c"),
        )
        .filter(F.col("event_type").isin(XCORR_A, XCORR_B))
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("event_type") == XCORR_A, F.col("c")).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("event_type") == XCORR_B, F.col("c")).otherwise(0)).alias("b"),
        )
        .orderBy("d")
        .collect()
    )
    a = np.array([x.a for x in ev], dtype=float)
    b = np.array([x.b for x in ev], dtype=float)
    expect = float(np.corrcoef(a, b)[0, 1])
    assert abs(rows[0].r - expect) < 1e-6


def test_knn_outlier_covers_corpus_and_flags_consistent(spark):
    """Outlier scores: one row per vector, singletons are outliers by
    definition, flags match the threshold, and scores agree with a
    recompute from the kNN graph."""
    from kafka_pyspark_bigdata_spark.operators.similarity import (
        OUTLIER_COS_PPM,
        emb_knn_outlier_score,
        knn_graph_lsh,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    rows = emb_knn_outlier_score(spark, sf).collect()
    n = load_table(spark, sf, "embeddings").count()
    assert len(rows) == n
    g = {}
    for e in knn_graph_lsh(spark, sf).collect():
        g.setdefault(e.src_id, []).append(round(e.cosine * 1_000_000))
    for r in rows:
        assert r.is_outlier == (r.avg_cos_ppm < OUTLIER_COS_PPM)
        if r.n_neighbors == 0:
            assert r.avg_cos_ppm == -1 and r.is_outlier
        else:
            tot, cnt = sum(g[r.vec_id]), len(g[r.vec_id])
            # Spark DIV (and DuckDB //) truncate toward zero; Python //
            # floors — match the engines' semantics for negative means
            exp = -((-tot) // cnt) if tot < 0 else tot // cnt
            assert r.avg_cos_ppm == exp and r.n_neighbors == cnt


def test_dynamic_session_window_merges_by_interval_union(spark):
    """Dynamic-gap sessions: per-user sessions are disjoint, ordered, and
    each session's end is the max event-start + that event's type gap —
    the interval-union invariant the native operator maintains."""
    from datetime import timedelta

    from kafka_pyspark_bigdata_spark.plans.advanced import (
        DYN_GAPS_S,
        q_session_window_dynamic,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = q_session_window_dynamic(spark, sf).collect()
    assert rows
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    for u, sess in per_user.items():
        for a, b in zip(sess, sess[1:]):
            assert a.session_end <= b.session_start, (u, a, b)
    ev = (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_type")
        .collect()
    )
    ends = {}
    for e in ev:
        end = e.ts + timedelta(seconds=DYN_GAPS_S.get(e.event_type, 3600))
        key = e.user_id
        ends.setdefault(key, []).append((e.ts, end))
    # per-user total event count must equal sum of session n_events
    n_by_user = {u: len(v) for u, v in ends.items()}
    for u, sess in per_user.items():
        assert sum(s.n_events for s in sess) == n_by_user[u]


def test_label_propagation_matches_python_replica(spark):
    """LPA: replay the 3 synchronous rounds (most-common neighbor label,
    ties to the smallest) in pure Python over the collected near-dup
    pair graph and compare the top-20 community census exactly."""
    from collections import Counter, defaultdict

    from kafka_pyspark_bigdata_spark.operators.dedup import (
        LPA_ROUNDS,
        dedup_minhash_lsh,
        graph_label_propagation,
    )

    sf = "/root/testdata/sf0.001"
    pairs = dedup_minhash_lsh(spark, sf).select("doc_a", "doc_b").collect()
    nbrs = defaultdict(list)
    for p in pairs:
        nbrs[p.doc_a].append(p.doc_b)
        nbrs[p.doc_b].append(p.doc_a)
    label = {n: n for n in nbrs}
    for _ in range(LPA_ROUNDS):
        nxt = {}
        for n, ns in nbrs.items():
            c = Counter(label[m] for m in ns)
            # count DESC, label ASC
            nxt[n] = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        label = nxt
    census = Counter(label.values())
    expect = sorted(
        ((lab, cnt) for lab, cnt in census.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:20]
    got = graph_label_propagation(spark, sf).collect()
    assert [(r.community, r.n_members) for r in got] == expect
    members = defaultdict(list)
    for n, lab in label.items():
        members[lab].append(n)
    for r in got:
        assert r.min_node == min(members[r.community])
        assert r.max_node == max(members[r.community])


def test_lpa_round_breaks_ties_toward_the_smallest_label(spark):
    """One LPA round on a hand-built frame: node 1 sees neighbour labels
    {7, 3, 9} (all tied) and must take 3; node 2 sees {5, 5, 2, 2, 8} and
    must take 2. ``F.mode`` without its deterministic flag returns 5 for
    node 2."""
    from kafka_pyspark_bigdata_spark.operators.dedup import _lpa_round

    nbr_labels = [(1, 7), (1, 3), (1, 9), (2, 5), (2, 5), (2, 2), (2, 2), (2, 8)]
    got = _lpa_round(spark.createDataFrame(nbr_labels, "doc_a long, label long"))
    assert sorted((r.node, r.label) for r in got.collect()) == [(1, 3), (2, 2)]


def test_hard_negatives_band_bucket_and_rank_contract(spark):
    """Hard negatives: every emitted negative shares the anchor's SRP
    bucket, sits inside [HN_LO, HN_HI) ppm, ranks are dense and ordered
    by (cos_ppm DESC, neg_id), and no in-band same-bucket candidate
    outscoring an emitted one is missing."""
    from kafka_pyspark_bigdata_spark.operators.similarity import (
        HN_HI_PPM,
        HN_K,
        HN_LO_PPM,
        bucket_expr,
        emb_hard_negatives,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = emb_hard_negatives(spark, sf).collect()
    assert rows
    buckets = {
        r.vec_id: r.b
        for r in load_table(spark, sf, "embeddings")
        .select("vec_id", bucket_expr("embedding").alias("b"))
        .collect()
    }
    per_q = {}
    for r in rows:
        assert HN_LO_PPM <= r.cos_ppm < HN_HI_PPM
        assert buckets[r.neg_id] == buckets[r.query_id]
        per_q.setdefault(r.query_id, []).append(r)
    for q, lst in per_q.items():
        assert [r.rank for r in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= HN_K
        keys = [(-r.cos_ppm, r.neg_id) for r in lst]
        assert keys == sorted(keys)


def test_mmr_matches_python_greedy_replica(spark):
    """MMR: replicate pool construction and the greedy λ=0.7 selection in
    Python (same sequential-fold cosines, same half-away ppm rounding,
    same tie-breaks) and compare all K picks per query exactly."""
    import numpy as np

    from kafka_pyspark_bigdata_spark.operators.similarity import (
        MMR_DIV_W,
        MMR_K,
        MMR_POOL,
        MMR_REL_W,
        N_QUERIES,
        _fold_norms,
        _round_half_away,
        ann_mmr_diversified,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf, "embeddings").collect()
    }
    ids = sorted(emb)
    mat = np.array([emb[i] for i in ids])
    norms = _fold_norms(mat)
    nrm = dict(zip(ids, norms))

    def cos_ppm(a, b):
        acc = 0.0
        for t in range(len(emb[a])):
            acc = acc + emb[a][t] * emb[b][t]
        return int(
            _round_half_away(
                np.array([acc / (nrm[a] * nrm[b]) * 1_000_000])
            )[0]
        )

    expect = []
    for q in [i for i in ids if i < N_QUERIES]:
        pool = sorted(
            ((cos_ppm(q, c), c) for c in ids if c != q),
            key=lambda t: (-t[0], t[1]),
        )[:MMR_POOL]
        sel = []
        avail = {c: rel for rel, c in pool}
        for r in range(1, MMR_K + 1):
            best = None
            for c, rel in avail.items():
                if r == 1:
                    score = MMR_REL_W * rel
                else:
                    score = MMR_REL_W * rel - MMR_DIV_W * max(
                        cos_ppm(c, s) for s, _, _ in sel
                    )
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, rel, score)
            _, c, rel, score = best
            sel.append((c, rel, score))
            del avail[c]
            expect.append((q, c, rel, score, r))
    got = [
        (r.query_id, r.cand_id, r.rel_ppm, r.mmr_score, r.rank)
        for r in ann_mmr_diversified(spark, sf).collect()
    ]
    assert got == expect


def test_cluster_stability_rand_matches_python_replica(spark):
    """Rand/ARI stability: replicate both centroid assignments and the
    contingency pair arithmetic with exact Python ints and compare."""
    from collections import Counter

    import numpy as np

    from kafka_pyspark_bigdata_spark.operators.similarity import (
        STAB_K,
        _fold_norms,
        _round_half_away,
        cluster_stability_rand,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    rows = load_table(spark, sf, "embeddings").collect()
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    ids = sorted(emb)
    mat = np.array([emb[i] for i in ids])
    nrm = dict(zip(ids, _fold_norms(mat)))

    def cos6(a, b):
        acc = 0.0
        for t in range(len(emb[a])):
            acc = acc + emb[a][t] * emb[b][t]
        # round(x, 6) == half-away(x*1e6)/1e6 on the same double
        return _round_half_away(
            np.array([acc / (nrm[a] * nrm[b]) * 1e6])
        )[0] / 1e6

    def assign(parity):
        cents = [i for i in ids if i % 2 == parity and i < 2 * STAB_K]
        out = {}
        for v in ids:
            out[v] = min(cents, key=lambda c: (-cos6(v, c), c))
        return out

    a, b = assign(0), assign(1)
    cont = Counter((a[v], b[v]) for v in ids)
    n = sum(cont.values())
    c2 = n * (n - 1) // 2
    snij = sum(x * (x - 1) // 2 for x in cont.values())
    ai = Counter()
    bj = Counter()
    for (x, y), v in cont.items():
        ai[x] += v
        bj[y] += v
    sa = sum(x * (x - 1) // 2 for x in ai.values())
    sb = sum(x * (x - 1) // 2 for x in bj.values())
    rand_ppm = int(_round_half_away(np.array([(c2 + 2 * snij - sa - sb) / c2 * 1e6]))[0])
    ari_ppm = int(
        _round_half_away(
            np.array([2 * (c2 * snij - sa * sb) / (c2 * (sa + sb) - 2 * sa * sb) * 1e6])
        )[0]
    )
    got = cluster_stability_rand(spark, sf).collect()[0]
    assert got.n == n
    assert got.n_cells == len(cont)
    assert got.rand_ppm == rand_ppm
    assert got.ari_ppm == ari_ppm
    assert 0 <= got.ari_ppm <= got.rand_ppm <= 1_000_000


def test_kcore_empty_core_reads_zero_not_null(spark, monkeypatch):
    """A fully-peeled core must report (n_nodes=0, n_edges=0) — SUM over
    an empty degree frame is NULL and must be coalesced (regression: at
    sf0.1 the real core empties by the last round and a NULL poisoned
    the column dtype)."""
    monkeypatch.setattr(dedup, "KCORE_K", 10**9)
    rows = dedup.graph_kcore(spark, "/root/testdata/sf0.001").collect()
    assert rows[0].n_edges > 0
    for r in rows[1:]:
        assert r.n_nodes == 0 and r.n_edges == 0
        assert r.n_edges is not None


def test_multiprobe_lsh_dominates_single_bucket(spark):
    """Multiprobe candidates are a strict superset of the single-bucket
    LSH candidates (home bucket = xor 0 probe), so at every rank the
    multiprobe cosine must be >= the single-bucket cosine, and multiprobe
    recall vs brute force must be >= single-bucket recall."""
    sf = "/root/testdata/sf0.001"
    mp = {
        (r.query_id, r.rank): (r.cosine, r.neighbor_id)
        for r in similarity.ann_multiprobe_lsh(spark, sf).collect()
    }
    single = {
        (r.query_id, r.rank): (r.cosine, r.neighbor_id)
        for r in similarity.ann_lsh_bucketed(spark, sf).collect()
    }
    assert mp
    for key, (cos_s, _) in single.items():
        assert key in mp
        assert mp[key][0] >= cos_s
    bf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_topk_bruteforce(spark, sf).collect()
    }
    hits_mp = sum(1 for (q, _), (_, n) in mp.items() if (q, n) in bf)
    hits_s = sum(1 for (q, _), (_, n) in single.items() if (q, n) in bf)
    assert hits_mp >= hits_s


def test_ivf_nprobe_recall_curve_is_monotone_and_caps(spark):
    """More probed lists can only add candidates: n_sel and recall_ppm
    are non-decreasing in nprobe, recall is within [0, 1e6], and the
    curve reports every configured level in order."""
    rows = similarity.ann_ivf_nprobe_recall(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r.nprobe for r in rows] == similarity.NPROBE_LEVELS
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_sel >= prev.n_sel
        assert cur.recall_ppm >= prev.recall_ppm
    for r in rows:
        assert 0 <= r.recall_ppm <= 1_000_000
        assert r.n_hits <= r.n_sel


def test_ktruss_trajectory_peels_monotonically(spark):
    """Edge and triangle counts never increase across peel rounds, the
    initial round matches the raw subgraph, and after one peel every
    surviving edge had support >= K-2 in the previous round."""
    rows = dedup.graph_ktruss(spark, "/root/testdata/sf0.001").collect()
    assert [r.iter for r in rows] == list(range(dedup.KTRUSS_ROUNDS + 1))
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_edges <= prev.n_edges
        assert cur.n_triangles <= prev.n_triangles
    for r in rows:
        assert r.n_edges >= 0 and r.n_triangles >= 0
    # truss is at least as tight as the same-k core on edges
    assert rows[-1].n_edges <= rows[0].n_edges


def test_cka_alignment_bounds_and_self_consistency(spark):
    """CKA is a normalized alignment: strictly positive denominators,
    value in [0, 1] (up to the documented div-n^2 quantization slack),
    and n_vecs equals the corpus size."""
    from kafka_pyspark_bigdata_spark.sources.batch import load_table as _lt

    row = similarity.emb_cka_alignment(spark, "/root/testdata/sf0.001").collect()[0]
    n = _lt(spark, "/root/testdata/sf0.001", "embeddings").count()
    assert row.n_vecs == n
    assert row.hsic_xx > 0 and row.hsic_yy > 0 and row.hsic_xy >= 0
    assert 0.0 <= row.cka <= 1.01


def test_kneser_ney_matches_python_reference(spark):
    """kn_ppm recomputed from scratch in Python (floor-exact rational)."""
    from collections import Counter

    docs = [
        r.text.lower().split()
        for r in text.load_documents(spark, "/root/testdata/sf0.001")
        .select("text")
        .collect()
    ]
    c12 = Counter()
    for toks in docs:
        toks = [t for t in toks if t]
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] += 1
    c1 = Counter()
    t1 = Counter()
    c2t = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        t1[a] += 1
        c2t[b] += 1
    t_types = len(c12)
    rows = text.text_kneser_ney_bigram(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == text.KN_TOPK
    top = sorted(c12.items(), key=lambda kv: (-kv[1], kv[0]))[: text.KN_TOPK]
    assert [(r.w1, r.w2) for r in rows] == [bg for bg, _ in top]
    for r in rows:
        num = (4 * r.c12 - 3) * t_types + 3 * t1[r.w1] * c2t[r.w2]
        assert r.kn_ppm == num * 1_000_000 // (4 * c1[r.w1] * t_types)
        assert 0 < r.kn_ppm <= 1_000_000


def test_zscore_outliers_match_python_reference(spark):
    """Top-K ids and scores recomputed from scratch with exact ints."""
    vecs = {
        r.vec_id: r.embedding
        for r in similarity.load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    import math

    def q(x):
        y = x * 1024.0
        fl = math.floor(y)
        return int(fl + ((y - fl > 0.5) or (y - fl == 0.5 and y >= 0)))

    qv = {k: [q(float(x)) for x in v] for k, v in vecs.items()}
    n = len(qv)
    d = len(next(iter(qv.values())))
    s = [sum(v[i] for v in qv.values()) for i in range(d)]
    qs = [sum(v[i] * v[i] for v in qv.values()) for i in range(d)]
    var = [(n * qs[i] - s[i] * s[i]) // (n * n) for i in range(d)]
    scores = {
        k: sum(
            0
            if var[i] <= 0
            else (abs(n * v[i] - s[i]) // n) ** 2
            * similarity.ZSCORE_RES
            // var[i]
            for i in range(d)
        )
        for k, v in qv.items()
    }
    exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[
        : similarity.ZSCORE_TOPK
    ]
    got = [
        (r.vec_id, r.zscore_e4)
        for r in similarity.emb_zscore_outliers(
            spark, "/root/testdata/sf0.001"
        ).collect()
    ]
    assert got == exp


def test_dup_spans_planted_duplicate_run(spark, tmp_path):
    """A 7-token run shared verbatim by two docs must surface as ONE
    maximal span of 3 duplicated 5-token windows covering exactly 7
    tokens in each doc (the interval-union arithmetic, end-to-end); a
    doc sharing no 5-token window reports zeros; cov_ppm is the exact
    integer fixed-point of covered/n_tokens."""
    shared = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (1, shared + " one two three four five"),
        (2, "x1 x2 x3 x4 x5 " + shared),
        (3, "solo tokens only here nothing repeats anywhere ever at all"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in dedup.dedup_dup_spans(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3}
    for d in (1, 2):
        assert out[d].n_spans == 1
        assert out[d].n_dup_windows == 3  # 7 - 5 + 1 windows in the run
        assert out[d].covered_tokens == 7
        assert out[d].cov_ppm == 7 * 1_000_000 // out[d].n_tokens
    assert out[3].n_spans == 0
    assert out[3].n_dup_windows == 0
    assert out[3].covered_tokens == 0
    assert out[3].cov_ppm == 0


def test_dup_spans_removal_first_occurrence_kept(spark, tmp_path):
    """The cleaned-corpus contract: a 7-token run shared verbatim by two
    docs is CUT from the later doc only — the corpus-wide first
    occurrence (min (doc_id, pos) per window hash) is retained, so doc 1
    passes through unchanged while doc 2 loses exactly the 7 shared
    tokens; a doc sharing nothing and a doc shorter than W pass through
    unchanged; removed + kept == n_tokens everywhere."""
    from kafka_pyspark_bigdata_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (1, shared + " one two three four five"),
        (2, "x1 x2 x3 x4 x5 " + shared),
        (3, "solo tokens only here nothing repeats anywhere ever at all"),
        (4, "tiny doc"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in dedup.dedup_dup_spans_removal(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # doc 1 holds the first occurrence: untouched
    assert out[1].n_cut_spans == 0
    assert out[1].clean_text == rows[0][1]
    # doc 2 loses exactly the shared run (one span, 7 tokens)
    assert out[2].n_cut_spans == 1
    assert out[2].removed_tokens == 7
    assert out[2].clean_text == "x1 x2 x3 x4 x5"
    # untouched docs (no shared window / shorter than W) pass through
    for d in (3, 4):
        assert out[d].n_cut_spans == 0
        assert out[d].removed_tokens == 0
        assert out[d].clean_text == rows[d - 1][1]
    # conservation on every doc
    for r in out.values():
        assert r.removed_tokens + r.kept_tokens == r.n_tokens
        assert len([t for t in r.clean_text.split(" ") if t]) == r.kept_tokens


def test_dup_spans_removal_cleans_to_zero_coverage(spark, tmp_path):
    """Fixed-point check: running the coverage MEASUREMENT over the
    REMOVAL's output corpus reports zero duplicated windows — the cut
    actually eliminated every cross-doc duplicated run (on this fixture;
    in general a cut seam can mint new windows, which is why production
    ExactSubstr does not re-join across cut boundaries)."""
    from kafka_pyspark_bigdata_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (1, shared + " one two three four five"),
        (2, "x1 x2 x3 x4 x5 " + shared),
        (3, shared),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "in" / "documents.parquet"))
    cleaned = dedup.dedup_dup_spans_removal(spark, str(tmp_path / "in"))
    cleaned.selectExpr("doc_id", "clean_text AS text").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "out" / "documents.parquet"))
    again = dedup.dedup_dup_spans(spark, str(tmp_path / "out")).collect()
    assert all(r.n_dup_windows == 0 and r.covered_tokens == 0 for r in again)
    # and the first occurrence survived exactly once corpus-wide
    kept = {r.doc_id: r.clean_text for r in cleaned.collect()}
    assert kept[1] == rows[0][1]
    assert shared not in kept[2] and shared not in kept[3]


def test_cdc_chunks_edit_locality_and_totality(spark, tmp_path):
    """The CDC contract: chunk boundaries are content-defined, so editing
    one region of a doc leaves the other doc's chunk hashes shared — the
    two variants must still report duplicated chunks against each other.
    Also pins totality on sub-K-char docs (one whole-doc chunk, ANSI-safe)
    and the per-doc char-count identity sum(chunk lens) == len(norm)."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from a warm windowsill and the rain keeps falling on the old roof "
        "of the quiet house near the river bend where nobody ever walks"
    )
    edited = base.replace("cat", "owl")  # one local edit
    rows = [(1, base), (2, edited), (3, "tiny")]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in text.text_cdc_chunks(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3}
    # edit locality: the unedited regions still share chunks corpus-wide
    assert out[1].n_dup_chunks > 0
    assert out[2].n_dup_chunks > 0
    # totality below K chars: exactly one chunk covering the whole doc
    assert out[3].n_chunks == 1
    assert out[3].n_chars == 4
    assert out[3].n_dup_chunks == 0
    # conservation: chunking is a PARTITION of the normalized text —
    # sum(chunk lens) == len(norm), asserted for EVERY doc by recomputing
    # the normalization (lower + whitespace-collapse + trim) in Python
    import re

    norm_len = {
        doc_id: len(re.sub(r"\s+", " ", t.lower()).strip()) for doc_id, t in rows
    }
    for d, r in out.items():
        assert r.n_chunks >= 1
        assert r.n_chars == norm_len[d]


def test_bbit_minhash_estimator_structure(spark):
    """b-bit matches dominate full-signature matches (a full match implies
    a b-bit match), estimates live in [0, 1e6] ppm, and the clamp formula
    reproduces in Python from the reported match counts."""
    from kafka_pyspark_bigdata_spark.operators.dedup import BBIT_B, NUM_HASHES

    mod = 1 << BBIT_B
    rows = dedup.dedup_bbit_minhash(spark, "/root/testdata/sf0.001").collect()
    assert rows, "band candidates expected in the planted-dup fixture"
    for r in rows:
        assert 0 <= r.est_bbit_ppm <= 1_000_000
        assert 0 <= r.est_full_ppm <= 1_000_000
        assert 0 < r.exact_ppm <= 1_000_000
        assert r.est_bbit_ppm == max(
            0, (r.m_bbit * mod - NUM_HASHES) * 1_000_000 // (NUM_HASHES * (mod - 1))
        )
        # m_full isn't emitted, but est_full_ppm = m_full/k and a full
        # 64-bit match can only happen when the b low bits also match:
        assert r.est_full_ppm <= r.m_bbit * 1_000_000 // NUM_HASHES


def test_sax_words_cover_all_users_with_balanced_symbols(spark):
    """Every user gets exactly one 4-symbol word over alphabet {0..3}, and
    the empirical breakpoints are equi-depth: for each j, at least j/4 of
    all segments carry a symbol < j (the defining cumulative property)."""
    import re

    sf = "/root/testdata/sf0.001"
    rows = timeseries.ts_sax_symbols(spark, sf).collect()
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    n_users = load_table(spark, sf, "events").select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == n_users
    assert all(re.fullmatch(r"[0-3]{4}", r.word) for r in rows)
    n_segments = 4 * n_users
    for j in (1, 2, 3):
        below = sum(
            r.n_users * sum(1 for c in r.word if int(c) < j) for r in rows
        )
        assert below >= (j * n_segments + 3) // 4 - 3  # ceil, bucket-width margin


def test_isotropy_unit_norms_and_cosine_range(spark):
    """The fixture's embeddings are unit-norm, so the reported mean raw
    norm lands on 1e6 micros up to the quantization half-ulp; the mean
    pairwise cosine must be a valid cosine; and a second evaluation must
    reproduce every value bit-for-bit (the accumulators are integer, so
    there is no summation-order dependence)."""
    sf = "/root/testdata/sf0.001"
    r = similarity.emb_isotropy_score(spark, sf).collect()[0]
    assert abs(r.mean_norm_micro - 1_000_000) <= 1
    assert -1_000_000 <= r.mean_cos_ppm <= 1_000_000
    assert 0 <= r.max_dim_bias_micro <= 1_000_000
    again = similarity.emb_isotropy_score(spark, sf).collect()[0]
    assert r == again


def test_abtt_crosschecks_isotropy_and_reduces_mean_cosine(spark):
    """emb_abtt_postprocess's `before` column uses the identical formula
    and quantization as emb_isotropy_score, so the two must agree
    bit-for-bit; the removed top direction must hold at least ~an
    average dim's variance share; and post-processing must end with a
    smaller mean cosine (for centered unit vectors the expectation is
    ≈ −1/(n−1), strictly below the raw corpus's)."""
    from kafka_pyspark_bigdata_spark.operators.similarity import EMB_DIM

    sf = "/root/testdata/sf0.001"
    r = similarity.emb_abtt_postprocess(spark, sf).collect()[0]
    iso = similarity.emb_isotropy_score(spark, sf).collect()[0]
    assert r.mean_cos_ppm_before == iso.mean_cos_ppm
    assert r.n_vecs == iso.n_vecs
    assert 1_000_000 // (2 * EMB_DIM) <= r.top_var_ppm <= 1_000_000
    assert -1_000_000 <= r.mean_cos_ppm_after < r.mean_cos_ppm_before


def test_ivf_spill_dominates_baseline_at_equal_probe_cost(spark):
    """Closure assignment makes every query's candidate set a superset
    of the baseline's, and anything that displaces a true top-k hit must
    itself be a true top-k member — so spill recall can never be lower.
    Replication stays within [1, SPILL_MAX]x and baseline is exactly 1x."""
    from kafka_pyspark_bigdata_spark.operators.similarity import (
        N_QUERIES,
        SPILL_MAX,
        TOP_K,
    )

    rows = {
        r.config: r
        for r in similarity.ann_ivf_spill(spark, "/root/testdata/sf0.001").collect()
    }
    base, spill = rows["baseline"], rows["spill"]
    assert base.repl_ppm == 1_000_000
    assert 1_000_000 <= spill.repl_ppm <= SPILL_MAX * 1_000_000
    assert spill.n_postings >= base.n_postings
    assert spill.n_hits >= base.n_hits
    for r in rows.values():
        assert r.n_sel <= N_QUERIES * TOP_K
        assert 0 <= r.recall_ppm <= 1_000_000


def test_filtered_search_prefix_property_and_monotone_recall(spark):
    """Anything the post-filter selects is a true filtered top-k member
    (a higher-cosine matched vector always outranks globally too, so the
    matched shortlist is a prefix of the true matched order) — hence
    n_hits == n_sel exactly; and recall is non-decreasing in k'."""
    from kafka_pyspark_bigdata_spark.operators.similarity import (
        FILTER_KPRIMES,
        N_QUERIES,
        TOP_K,
    )

    rows = similarity.ann_filtered_search(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r.kprime for r in rows] == sorted(FILTER_KPRIMES)
    for r in rows:
        assert r.n_hits == r.n_sel
        assert r.n_sel <= N_QUERIES * TOP_K
        assert r.n_truth <= N_QUERIES * TOP_K
    recalls = [r.recall_ppm for r in rows]
    assert recalls == sorted(recalls)


def test_kcenter_radius_ladder_is_monotone(spark):
    """Gonzalez invariant: each newly selected center is the farthest
    point, so selection distances are non-increasing, and the final
    coverage radius cannot exceed the last selection distance. Centers
    are distinct and the seed is vec_id 0 at distance 0."""
    from kafka_pyspark_bigdata_spark.operators.similarity import KCENTER_K

    rows = {r.round: r for r in
            similarity.cluster_kcenter_greedy(spark, "/root/testdata/sf0.001").collect()}
    assert len(rows) == KCENTER_K + 1
    assert rows[0].center_id == 0 and rows[0].sel_dist2 == 0
    sels = [rows[r].sel_dist2 for r in range(1, KCENTER_K)]
    assert all(a >= b for a, b in zip(sels, sels[1:]))
    assert rows[KCENTER_K].center_id == -1
    assert rows[KCENTER_K].sel_dist2 <= sels[-1]
    ids = [rows[r].center_id for r in range(KCENTER_K)]
    assert len(set(ids)) == KCENTER_K


def test_hyperball_nf_monotone_and_exact_at_t0(spark):
    """The ball of radius 0 is the node itself (N(0) = n); the
    neighborhood function estimate never decreases with t; saturated
    registers never exceed the node count."""
    rows = sorted(
        dedup.graph_hyperball_nf(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.t,
    )
    assert rows[0].t == 0 and rows[0].nf_est == rows[0].n_nodes
    assert rows[0].n_saturated == 0
    ests = [r.nf_est for r in rows]
    assert all(a <= b for a, b in zip(ests, ests[1:]))
    assert all(0 <= r.n_saturated <= r.n_nodes for r in rows)


def test_repeated_lines_keep_first_reference(spark):
    """Plain-Python recompute of the C4 line-dedup ledger: keep-first
    semantics mean the corpus-wide kept-line total equals the number of
    DISTINCT line strings; every per-doc row must match the reference."""
    import duckdb as _dd

    raw = _dd.sql(
        "SELECT doc_id, text FROM"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
        " ORDER BY doc_id"
    ).fetchall()
    W = dedup.REPLINE_W
    occs = []  # (okey, doc_id, cstr, cchars)
    for doc_id, text in raw:
        toks = [t for t in text.lower().split() if t]
        for i in range((len(toks) + W - 1) // W):
            chunk = toks[i * W : i * W + W]
            occs.append(
                (
                    doc_id * 1_000_000 + i,
                    doc_id,
                    " ".join(chunk),
                    sum(len(t) for t in chunk),
                )
            )
    first = {}
    count = {}
    for okey, _, cstr, _ in occs:
        count[cstr] = count.get(cstr, 0) + 1
        first.setdefault(cstr, okey)
    expect = {}
    for okey, doc_id, cstr, cchars in occs:
        n, rm, ct, cr = expect.get(doc_id, (0, 0, 0, 0))
        removed = count[cstr] >= 2 and okey != first[cstr]
        expect[doc_id] = (
            n + 1,
            rm + removed,
            ct + cchars,
            cr + (cchars if removed else 0),
        )
    got = {
        r.doc_id: (r.n_lines, r.n_removed, r.chars_total, r.chars_removed)
        for r in dedup.dedup_repeated_lines(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expect
    kept_total = sum(n - rm for n, rm, _, _ in expect.values())
    assert kept_total == len(count)  # exactly one survivor per line string
    assert any(rm > 0 for _, rm, _, _ in expect.values())


def test_tokenizer_fertility_python_reference(spark):
    """Simulate one greedy left-to-right BPE merge round in plain Python
    (explicit consumed-flag scan, NOT the engine's run-length formula)
    and compare the per-language rollup exactly — proving the
    ceil(run/2) expression equals true single-round merge semantics."""
    import duckdb as _dd

    raw = _dd.sql(
        "SELECT text FROM"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    docs = [[t for t in text.lower().split() if t] for (text,) in raw]
    docs = [d for d in docs if d]
    pair_counts: dict[str, int] = {}
    for d in docs:
        for w in d:
            if len(w) >= 2:
                for j in range(len(w) - 1):
                    p = w[j : j + 2]
                    pair_counts[p] = pair_counts.get(p, 0) + 1
    merges = {
        p
        for p, _ in sorted(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[
            : text.BPE_TOP
        ]
    }
    stop = set(text.EN_STOPWORDS)

    def word_tokens(w: str) -> int:
        consumed = False
        n_merge = 0
        for j in range(len(w) - 1):
            if consumed:
                consumed = False
                continue
            if w[j : j + 2] in merges:
                n_merge += 1
                consumed = True
        return len(w) - n_merge

    agg: dict[str, list[int]] = {}
    for d in docs:
        lang = "en" if sum(1 for t in d if t in stop) * 20 >= len(d) else "other"
        a = agg.setdefault(lang, [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += len(d)
        a[2] += sum(word_tokens(w) for w in d)
        a[3] += sum(len(w) for w in d)
        a[4] += sum(len(w.encode()) for w in d)
    expect = {
        lang: tuple(v)
        + (
            v[2] * 1_000_000 // v[1],
            v[3] * 1_000_000 // v[2],
            v[4] * 1_000_000 // v[2],
        )
        for lang, v in agg.items()
    }
    got = {
        r.lang_pred: (
            r.n_docs,
            r.words,
            r.tokens,
            r.chars,
            r.bytes_total,
            r.fertility_ppm,
            r.chars_per_token_ppm,
            r.bytes_per_token_ppm,
        )
        for r in text.text_tokenizer_fertility(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expect
    for v in got.values():
        assert v[2] >= v[1] and v[3] >= v[2]  # words <= tokens <= chars


def test_hits_contract(spark):
    """HITS invariants on the oriented dup-pair graph: scores live in
    [0, HITS_SCALE]; at least one node attains the max-norm ceiling on
    each side; a node with no outgoing edges has hub 0 and one with no
    incoming edges has authority 0."""
    rows = dedup.graph_hits(spark, "/root/testdata/sf0.001").collect()
    assert rows
    S = dedup.HITS_SCALE
    assert all(0 <= r.hub_scaled <= S and 0 <= r.auth_scaled <= S for r in rows)
    assert max(r.hub_scaled for r in rows) == S
    assert max(r.auth_scaled for r in rows) == S
    edges = {
        (r.doc_a, r.doc_b)
        for r in dedup.dup_pairs(spark, "/root/testdata/sf0.001").collect()
    }
    srcs = {a for a, _ in edges}
    dsts = {b for _, b in edges}
    for r in rows:
        if r.doc_id not in srcs:
            assert r.hub_scaled == 0, r
        if r.doc_id not in dsts:
            assert r.auth_scaled == 0, r


def test_cusum_python_reference(spark):
    """Recompute the two-sided CUSUM with the TEXTBOOK recursion
    S_t = max(0, S_{t-1} + dev_t) in plain Python and compare alarms,
    maxima and first alarm day exactly — proving the prefix-minus-
    running-min closed form used by both engines equals the recursion."""
    import collections
    import duckdb as _dd

    raw = _dd.sql(
        "SELECT event_type, CAST(ts AS DATE) AS d,"
        " CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents"
        " FROM read_parquet('/root/testdata/sf0.001/events.parquet')"
    ).fetchall()
    daily: dict = collections.defaultdict(lambda: collections.defaultdict(int))
    for et, d, cents in raw:
        daily[et][d] += cents
    expect = {}
    for et, series in daily.items():
        days = sorted(series)
        vals = [series[d] for d in days]
        mu = sum(vals) // len(vals)
        k = mu // timeseries.CUSUM_SLACK_DIV
        h = mu // timeseries.CUSUM_THRESH_DIV
        sp = sn = 0
        mp = mn = 0
        ap = an = 0
        first = None
        for d, v in zip(days, vals):
            sp = max(0, sp + (v - mu - k))
            sn = max(0, sn + (mu - v - k))
            mp, mn = max(mp, sp), max(mn, sn)
            ap += sp > h
            an += sn > h
            if (sp > h or sn > h) and first is None:
                first = d.strftime("%Y-%m-%d")
        expect[et] = (len(days), mu, k, h, mp, mn, ap, an, first or "none")
    got = {
        r.event_type: (
            r.n_days,
            r.mean_cents,
            r.slack_cents,
            r.thresh_cents,
            r.max_cusum_pos,
            r.max_cusum_neg,
            r.n_alarm_pos,
            r.n_alarm_neg,
            r.first_alarm_day,
        )
        for r in timeseries.ts_changepoint_cusum(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expect


def test_matryoshka_eval_contract(spark):
    """The full-dimension row is the truth ranked against itself
    (recall exactly 10^6); every prefix recall lies in [0, 10^6]; the
    dims column enumerates MRL_DIMS."""
    rows = similarity.emb_matryoshka_eval(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by = {r.dims: r for r in rows}
    assert set(by) == set(similarity.MRL_DIMS)
    assert by[similarity.EMB_DIM].recall_ppm == 1_000_000
    K = similarity.TOP_K * similarity.N_QUERIES
    for r in rows:
        assert 0 <= r.n_hits <= K
        assert r.recall_ppm == r.n_hits * 1_000_000 // K


def test_sq_recall_contract(spark):
    """SQ audit invariants: the 32-bit row is the truth against itself
    (recall exactly 10^6); more bits never hurt recall on the grid
    family (4 <= 8 <= 32 here by construction of nested grids... the
    nesting isn't exact for 2^b-1 levels, so assert the weaker
    published expectation: SQ8 >= SQ4 on this fixture and all recalls
    in range); bits enumerate SQ_BITS + 32."""
    rows = similarity.emb_sq_recall(spark, "/root/testdata/sf0.001").collect()
    by = {r.bits: r for r in rows}
    assert set(by) == set(similarity.SQ_BITS) | {32}
    assert by[32].recall_ppm == 1_000_000
    K = similarity.TOP_K * similarity.N_QUERIES
    for r in rows:
        assert 0 <= r.n_hits <= K
        assert r.recall_ppm == r.n_hits * 1_000_000 // K
    assert by[8].recall_ppm >= by[4].recall_ppm


def test_bpe_multiround_python_reference(spark):
    """Simulate full multi-round BPE training in plain Python (Sennrich
    2016: recount pair frequencies over the vocabulary after every
    merge, greedy leftmost-first merge application) and compare every
    learned rule exactly — then assert the published point of the
    operator: the dynamic rule sequence diverges from static one-shot
    ranking (text_bpe_pair_merges' ordering), i.e. recounting after
    substitution matters, and at least one rule fuses a SYMBOL (a
    multi-character side static ranking cannot even express)."""
    import collections

    import duckdb as _dd

    raw = _dd.sql(
        "SELECT text FROM"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    vocab: dict[str, int] = collections.Counter()
    for (t,) in raw:
        for w in t.lower().split():
            if w:
                vocab[w] += 1

    def pair_counts(v: dict[str, int]) -> dict[str, int]:
        c: dict[str, int] = collections.Counter()
        for w, f in v.items():
            for i in range(len(w) - 1):
                c[w[i : i + 2]] += f
        return c

    static = sorted(
        pair_counts(vocab).items(), key=lambda kv: (-kv[1], kv[0])
    )
    v = dict(vocab)
    decode: dict[str, str] = {}
    rules = []
    for k in range(text.BPE_ROUNDS):
        pc = sorted(pair_counts(v).items(), key=lambda kv: (-kv[1], kv[0]))
        if not pc:
            break
        p, n = pc[0]
        ph = text._BPE_PH[k]
        nv: dict[str, int] = collections.Counter()
        for w, f in v.items():
            nv[w.replace(p, ph)] += f
        v = dict(nv)
        decode[ph] = "".join(decode.get(c, c) for c in p)
        rules.append(
            (
                k + 1,
                decode.get(p[0], p[0]),
                decode.get(p[1], p[1]),
                decode[ph],
                n,
                sum(f * len(w) for w, f in v.items()),
            )
        )

    got = [
        (
            r.merge_round,
            r.left_sym,
            r.right_sym,
            r.merged_sym,
            r.n,
            r.symbols_after,
        )
        for r in text.text_bpe_multiround(
            spark, "/root/testdata/sf0.001"
        ).collect()
    ]
    assert got == rules
    static_pairs = [p for p, _ in static[: len(rules)]]
    dynamic_pairs = [r[1] + r[2] for r in rules]
    assert dynamic_pairs != static_pairs

    # at sf0.01 (the oracle-gate fixture, where the engine is
    # hash-verified against the same unroll) the round-6 rule fuses the
    # round-1 'er' SYMBOL — re-run the reference simulation there to
    # pin the docstring's claim
    raw01 = _dd.sql(
        "SELECT text FROM"
        " read_parquet('/root/testdata/sf0.01/documents.parquet')"
    ).fetchall()
    v01: dict[str, int] = collections.Counter()
    for (t,) in raw01:
        for w in t.lower().split():
            if w:
                v01[w] += 1
    v, decode, fused = dict(v01), {}, False
    for k in range(text.BPE_ROUNDS):
        pc = sorted(pair_counts(v).items(), key=lambda kv: (-kv[1], kv[0]))
        if not pc:
            break
        p, _ = pc[0]
        ph = text._BPE_PH[k]
        nv: dict[str, int] = collections.Counter()
        for w, f in v.items():
            nv[w.replace(p, ph)] += f
        v = dict(nv)
        decode[ph] = "".join(decode.get(c, c) for c in p)
        fused = fused or any(c in decode for c in p if c != ph)
    assert fused


def test_prototype_prune_python_reference(spark):
    """Reimplement prototype pruning in plain Python (quantize, assign
    to the seed prototypes, per-cluster coarse-bucket histogram, prefix
    cut) and compare the audit exactly; the bucket-granular cut must
    never exceed the ppm target."""
    import math

    import duckdb as _dd

    rows = _dd.sql(
        "SELECT vec_id, embedding FROM"
        " read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
        " ORDER BY vec_id"
    ).fetchall()
    S, BUCK = similarity.PROTO_SCALE, similarity.PROTO_BUCKET
    vecs = {
        vid: [int(math.floor(float(x) * S)) for x in emb]
        for vid, emb in rows
    }
    protos = {
        vid: v for vid, v in vecs.items() if vid < similarity.KMEANS_K
    }
    hist: dict[int, dict[int, int]] = {}
    for vid, v in vecs.items():
        best = min(
            (
                (sum((a - b) ** 2 for a, b in zip(v, c)), cid)
                for cid, c in protos.items()
            )
        )
        hist.setdefault(best[1], {}).setdefault(best[0] // BUCK, 0)
        hist[best[1]][best[0] // BUCK] += 1
    expect = {}
    for cid, h in hist.items():
        n = sum(h.values())
        target = n * similarity.PROTO_PRUNE_PPM // 1_000_000
        cum, cut, pruned = 0, -1, 0
        for b in sorted(h):
            cum += h[b]
            if cum <= target:
                cut, pruned = b, cum
        expect[cid] = (n, target, cut, pruned, (n - pruned) * 1_000_000 // n)
    got = {
        r.cid: (r.n_vecs, r.target_k, r.cut_bucket, r.n_pruned, r.kept_ppm)
        for r in similarity.cluster_prototype_prune(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expect
    for n, target, _cut, pruned, kept in got.values():
        assert pruned <= target <= n
        assert kept >= 1_000_000 - similarity.PROTO_PRUNE_PPM


def test_matrix_profile_python_reference(spark):
    """Recompute the PAA matrix profile in plain Python (explicit dense
    daily grid, segment sums, O(M^2·L) min-distance scan with the
    exclusion zone) and compare discord/motif exactly; the discord
    distance can never be below the motif distance."""
    import duckdb as _dd

    daily = _dd.sql(
        "SELECT user_id, datediff('day', (SELECT MIN(CAST(ts AS DATE))"
        " FROM read_parquet('/root/testdata/sf0.001/events.parquet')),"
        " CAST(ts AS DATE)) AS di,"
        " CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))"
        "      AS BIGINT) AS v"
        " FROM read_parquet('/root/testdata/sf0.001/events.parquet')"
        " GROUP BY 1, 2"
    ).fetchall()
    nd = max(di for _, di, _ in daily) + 1
    grid: dict[int, list[int]] = {}
    for u, di, v in daily:
        grid.setdefault(u, [0] * nd)[di] += v
    M, L = timeseries.MP_SEGMENTS, timeseries.MP_WIN
    nwin = M - L + 1
    expect = {}
    for u, vec in grid.items():
        p = [0] * M
        for di, v in enumerate(vec):
            p[di * M // nd] += v
        prof = []
        for i in range(1, nwin + 1):
            prof.append(
                min(
                    sum(
                        (p[i - 1 + t] - p[j - 1 + t]) ** 2 for t in range(L)
                    )
                    for j in range(1, nwin + 1)
                    if abs(i - j) >= L
                )
            )
        dmax, dmin = max(prof), min(prof)
        expect[u] = (
            prof.index(dmax) + 1,
            dmax,
            prof.index(dmin) + 1,
            dmin,
        )
    got = {
        r.user_id: (
            r.discord_idx,
            r.discord_dist,
            r.motif_idx,
            r.motif_dist,
        )
        for r in timeseries.ts_matrix_profile_paa(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == expect
    for di_, dd_, mi_, md_ in got.values():
        assert dd_ >= md_ >= 0
        assert 1 <= di_ <= nwin and 1 <= mi_ <= nwin


def test_ood_mahalanobis_python_reference(spark):
    """Recompute the diagonal class-conditional Mahalanobis audit in
    plain Python (integer moments, exact rational (N·q−S)²/(N·Q−S²),
    clamp, nearest-class argmin, top-K) and compare exactly."""
    import math

    import duckdb as _dd

    rows = _dd.sql(
        "SELECT vec_id, label, embedding FROM"
        " read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    ).fetchall()
    S = similarity.OOD_SCALE
    vecs = {
        vid: (lbl, [int(math.floor(float(x) * S)) for x in emb])
        for vid, lbl, emb in rows
    }
    dims = len(next(iter(vecs.values()))[1])
    stats: dict[int, tuple[int, list[int], list[int]]] = {}
    for lbl in {l for l, _ in vecs.values()}:
        members = [q for l, q in vecs.values() if l == lbl]
        n = len(members)
        sa = [sum(q[d] for q in members) for d in range(dims)]
        qq = [sum(q[d] * q[d] for q in members) for d in range(dims)]
        stats[lbl] = (n, sa, [n * qq[d] - sa[d] ** 2 for d in range(dims)])
    expect = []
    for vid, (_, q) in vecs.items():
        best = min(
            (
                (
                    sum(
                        min(
                            (n * q[d] - sa[d]) ** 2
                            * 1_000_000
                            // max(va[d], 1),
                            similarity.OOD_CLAMP,
                        )
                        for d in range(dims)
                    ),
                    lbl,
                )
                for lbl, (n, sa, va) in stats.items()
            )
        )
        expect.append((vid, best[1], best[0]))
    expect.sort(key=lambda t: (-t[2], t[0]))
    expect = expect[: similarity.OOD_TOP]
    got = [
        (r.vec_id, r.nearest_label, r.score_ppm)
        for r in similarity.emb_ood_mahalanobis(
            spark, "/root/testdata/sf0.001"
        ).collect()
    ]
    assert got == expect
    scores = [s for _, _, s in got]
    assert scores == sorted(scores, reverse=True)


def test_resource_allocation_python_reference(spark):
    """Recompute the RA index in plain Python (explicit neighbor-set
    intersection, per-center 10^6 // deg contributions) and compare the
    top list exactly; RA must weight a low-degree shared neighbor above
    a hub (monotonicity of the per-wedge contribution)."""
    import duckdb as _dd

    raw = _dd.sql(
        "SELECT DISTINCT l_orderkey, l_partkey FROM"
        " read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    ).fetchall()
    by_order: dict[int, set[int]] = {}
    for ok, pk in raw:
        by_order.setdefault(ok, set()).add(pk)
    pair_n: dict[tuple[int, int], int] = {}
    for ps in by_order.values():
        sp = sorted(ps)
        for i, a in enumerate(sp):
            for b in sp[i + 1 :]:
                pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    edges = {p for p, n in pair_n.items() if n >= dedup.LINKPRED_SUPPORT}
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    scores: dict[tuple[int, int], list[int]] = {}
    for w, nb in nbrs.items():
        contrib = 1_000_000 // len(nb)
        sp = sorted(nb)
        for i, u in enumerate(sp):
            for v in sp[i + 1 :]:
                a = scores.setdefault((u, v), [0, 0])
                a[0] += 1
                a[1] += contrib
    expect = sorted(
        (
            (u, v, cn, ra)
            for (u, v), (cn, ra) in scores.items()
            if (u, v) not in edges
        ),
        key=lambda t: (-t[3], t[0], t[1]),
    )[: dedup.LINKPRED_TOP]
    got = [
        (r.u, r.v, r.cn, r.ra_ppm)
        for r in dedup.graph_resource_allocation(
            spark, "/root/testdata/sf0.001"
        ).collect()
    ]
    assert got == expect
