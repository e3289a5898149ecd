"""Corpus-pipeline operator invariants + property tests (hypothesis) for
the pure-Python serving coercion."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_pyspark_bigdata_spark.ml.serving import coerce_features
from kafka_pyspark_bigdata_spark.operators import pipeline

from conftest import oracle_test

SF = "/root/testdata/sf0.001"


test_pipeline_oracle = oracle_test(pipeline)


def test_token_budget_partitions_budget(spark):
    """Targets never exceed the budget in total, and every source's target
    is proportional to its weight (floor division shortfall < |sources|)."""
    rows = pipeline.corpus_token_budget(spark, SF).collect()
    total_target = sum(r.toks_target for r in rows)
    assert total_target <= pipeline.TOKEN_BUDGET
    assert pipeline.TOKEN_BUDGET - total_target < len(rows) * max(
        r.weight for r in rows
    )
    for r in rows:
        assert 1 <= r.weight <= 9
        assert r.epochs_ppm == r.toks_target * 1_000_000 // r.toks_have


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.one_of(
            st.integers(-10**6, 10**6),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            st.integers(-10**6, 10**6).map(str),
        ),
    )
)
def test_coerce_features_property(payload):
    """Any numeric or numeric-string payload coerces losslessly; missing
    keys default to 0.0 and land in the warning list (api.py:49-73)."""
    cols = ["a", "b", "c"]
    values, missing = coerce_features(payload, cols)
    assert len(values) == 3
    for c, v in zip(cols, values):
        if c in payload:
            assert v == float(payload[c])
            assert c not in missing
        else:
            assert v == 0.0
            assert c in missing


def test_pack_greedy_invariants(spark):
    """Packing is contiguous chunking per source: pack ids start at 0,
    are non-decreasing in doc order, and every doc STARTS inside its pack
    (cum_before < (pack_id + 1) * capacity)."""
    rows = pipeline.corpus_pack_greedy(spark, SF).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, docs in by_source.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        prev_pack = 0
        for r in docs:
            assert r["pack_id"] == cum // pipeline.PACK_CAPACITY
            assert r["pack_id"] >= prev_pack
            prev_pack = r["pack_id"]
            cum += r["n_tokens"]
        assert docs[0]["pack_id"] == 0


def test_split_and_sample_are_consistent(spark):
    """The sample (bucket 0) must be a subset of the split's train side
    (buckets 0-7) — both derive from the same hash."""
    sample_ids = {
        r["doc_id"] for r in pipeline.corpus_sample_hash(spark, SF).collect()
    }
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    docs = load_table(spark, SF, "documents").withColumn(
        "bucket", pipeline.hash_bucket_expr()
    )
    train_ids = {
        r["doc_id"]
        for r in docs.filter(F.col("bucket") < pipeline.TRAIN_BUCKETS).collect()
    }
    assert sample_ids and sample_ids <= train_ids


def test_stateful_totals_match_batch(spark):
    """applyInPandasWithState running totals must equal the batch
    aggregate regardless of micro-batch splits."""
    from kafka_pyspark_bigdata_spark.streaming.queries import (
        streaming_stateful_totals,
    )
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    got = {
        r["user_id"]: (r["n_events"], r["sum_cents"])
        for r in streaming_stateful_totals(spark, SF).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["cents"])
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias(
                "cents"
            ),
        )
        .collect()
    }
    assert got == want


def test_preprocess_e2e_accounting_closes(spark):
    """Every doc lands in exactly one bucket: fail + dup + kept = total."""
    from kafka_pyspark_bigdata_spark.operators.pipeline import corpus_preprocess_e2e

    df = corpus_preprocess_e2e(spark, "/root/testdata/sf0.001")
    bad = df.filter(
        "n_quality_fail + n_dups_removed + n_kept != n_total"
    )
    assert bad.count() == 0
    assert df.agg({"n_kept": "sum"}).first()[0] > 0


def test_cap_per_source_never_exceeds_cap(spark):
    """kept ≤ cap per source, kept+dropped tiles the source, and the
    cutoff exists exactly when the source is at capacity."""
    rows = pipeline.corpus_cap_per_source(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert r.n_kept <= pipeline.CAP_PER_SOURCE
        assert r.n_kept + r.n_dropped == r.n_docs
        assert (r.cutoff_pri is not None) == (r.n_docs >= pipeline.CAP_PER_SOURCE)


def test_ablation_grid_cells_are_additive(spark):
    """CUBE cells must add up: each rollup cell equals the sum of its
    children on any flag — the invariant that makes the one-pass grid a
    drop-in for 2^k separate filtered scans."""
    from kafka_pyspark_bigdata_spark.operators.pipeline import corpus_ablation_grid

    rows = corpus_ablation_grid(spark, "/root/testdata/sf0.001").collect()
    cell = {(r.len_ok, r.lang_ok, r.head_source): r for r in rows}
    grand = cell[(-1, -1, -1)]
    assert grand.n_docs == sum(
        cell[(v, -1, -1)].n_docs for v in (0, 1) if (v, -1, -1) in cell
    )
    assert grand.total_chars == sum(
        cell[(-1, v, -1)].total_chars for v in (0, 1) if (-1, v, -1) in cell
    )
    leaf_sum = sum(
        r.n_docs for k, r in cell.items() if -1 not in k
    )
    assert grand.n_docs == leaf_sum


def test_curriculum_phases_balanced_and_monotone(spark):
    rows = pipeline.corpus_curriculum_schedule(spark, SF).collect()
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    n_total = load_table(spark, SF, "documents").count()
    phases = sorted({r.phase for r in rows})
    assert phases == list(range(pipeline.CURRICULUM_PHASES))
    per_phase = {
        p: sum(r.n_docs for r in rows if r.phase == p) for p in phases
    }
    assert sum(per_phase.values()) == n_total
    assert max(per_phase.values()) - min(per_phase.values()) <= 1
    # curriculum is monotone: a phase's hardest doc never exceeds the
    # next phase's easiest (ties may share the boundary value)
    for p in phases[:-1]:
        hi = max(r.max_chars for r in rows if r.phase == p)
        lo = min(r.min_chars for r in rows if r.phase == p + 1)
        assert hi <= lo


def test_soft_dedup_weight_bounds(spark):
    """Commonness is >= 1.0 by construction (every shingle contains
    itself), so weights are <= 1e6 ppm; a source's effective fraction is
    exactly the mean of its doc weights (integer division)."""
    rows = pipeline.corpus_soft_dedup_weights(spark, SF).collect()
    assert rows, "no sources"
    for r in rows:
        assert r.mean_commonness_milli >= 1000
        assert 0 < r.sum_weight_ppm <= r.n_docs * 1_000_000
        assert r.effective_frac_ppm == r.sum_weight_ppm // r.n_docs


def test_soft_dedup_unique_doc_scores_full_weight(spark):
    """A document sharing no shingle with any other doc has commonness
    exactly 1.0 -> weight exactly 1_000_000 ppm. Verified by recomputing
    document frequencies in Python over the fixture's shingle sets."""
    import collections

    from kafka_pyspark_bigdata_spark.operators.dedup import with_shingles
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    sh = {
        r.doc_id: set(r.shingles)
        for r in with_shingles(load_table(spark, SF, "documents"))
        .select("doc_id", "shingles")
        .collect()
    }
    df = collections.Counter()
    for s in sh.values():
        df.update(s)
    # python recomputation of the per-source report
    src = {
        r.doc_id: r.source
        for r in load_table(spark, SF, "documents").select("doc_id", "source").collect()
    }
    per_source = collections.defaultdict(lambda: [0, 0])
    for doc_id, shingles in sh.items():
        commonness_milli = sum(df[s] for s in shingles) * 1000 // len(shingles)
        weight = 1_000_000_000 // commonness_milli
        agg = per_source[src[doc_id]]
        agg[0] += 1
        agg[1] += weight
    got = {
        r.source: (r.n_docs, r.sum_weight_ppm)
        for r in pipeline.corpus_soft_dedup_weights(spark, SF).collect()
    }
    assert got == {s: tuple(v) for s, v in per_source.items()}


def test_upsampling_epochs_greedy_contract(spark):
    """Slot-reservation greedy invariants: every source gets 1..4 epochs;
    total contributed tokens never exceed the budget; in quality order
    the allocation is a 3-phase pattern (full 3-extra slots, at most one
    partial marginal source, then base-only); removing any one full
    allocation could not fund an extra epoch for a base-only source
    earlier in the order (greedy optimality within the order)."""
    from kafka_pyspark_bigdata_spark.operators import pipeline

    rows = pipeline.corpus_upsampling_epochs(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    total = sum(r.tokens for r in rows)
    budget = pipeline.UPS_BUDGET_MULT * total
    assert sum(r.tokens_contributed for r in rows) <= budget
    for r in rows:
        assert 1 <= r.epochs <= pipeline.UPS_MAX_EPOCHS
        assert r.tokens_contributed == r.epochs * r.tokens
    ordered = sorted(rows, key=lambda r: (-r.quality_ppm, r.source))
    extras = [r.epochs - 1 for r in ordered]
    # pattern: a prefix of 3s, at most one value in (0,3), then all 0s
    i = 0
    while i < len(extras) and extras[i] == 3:
        i += 1
    if i < len(extras) and 0 < extras[i] < 3:
        i += 1
    assert all(e == 0 for e in extras[i:]), extras


def test_dsir_python_reference(spark):
    """Reimplement DSIR scoring in plain Python (hashlib md5 feature
    hashing, Laplace-smoothed integer likelihood ratios, mean-ratio
    selection) and compare the per-source audit exactly; then assert
    the operator's point — the declared target sources select at a
    higher mean rate than the rest."""
    import hashlib

    import duckdb as _dd

    raw = _dd.sql(
        "SELECT doc_id, source, text FROM"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    B = pipeline.DSIR_BUCKETS
    tgt = set(pipeline.DSIR_TARGET_SOURCES)

    def grams(text: str) -> list[str]:
        toks = [t for t in text.lower().split() if t]
        return toks + [
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        ]

    def bucket(g: str) -> int:
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

    docs = [
        (d, s, [bucket(g) for g in grams(t)])
        for d, s, t in raw
        if [t_ for t_ in t.lower().split() if t_]
    ]
    raw_n = [0] * B
    tgt_n = [0] * B
    for _, s, bs in docs:
        for b in bs:
            raw_n[b] += 1
            if s in tgt:
                tgt_n[b] += 1
    s_raw, s_tgt = sum(raw_n), sum(tgt_n)
    r_ppm = [
        (tgt_n[b] + 1) * (s_raw + B) * 1_000_000
        // ((raw_n[b] + 1) * (s_tgt + B))
        for b in range(B)
    ]
    agg: dict[str, list[int]] = {}
    for _, s, bs in docs:
        score = sum(r_ppm[b] for b in bs) // len(bs)
        a = agg.setdefault(s, [0, 0, 0])
        a[0] += 1
        a[1] += 1 if score >= 1_000_000 else 0
        a[2] += score
    expect = {
        s: (v[0], v[1], v[1] * 1_000_000 // v[0], v[2] // v[0])
        for s, v in agg.items()
    }
    got = {
        r.source: (r.n_docs, r.n_selected, r.sel_rate_ppm, r.avg_score_ppm)
        for r in pipeline.corpus_dsir_selection(spark, SF).collect()
    }
    assert got == expect
    t_rates = [v[2] for s, v in got.items() if s in tgt]
    o_rates = [v[2] for s, v in got.items() if s not in tgt]
    assert t_rates and o_rates
    assert sum(t_rates) / len(t_rates) > sum(o_rates) / len(o_rates)


def test_unimax_python_reference(spark):
    """Reimplement UniMax waterfilling as the textbook sequential
    algorithm (sort ascending, give each language min(cap_e, even
    split of remaining), NOT the engine's closed prefix form) and
    compare allocations exactly — plus the allocator's invariants:
    nothing exceeds its epoch cap, the budget is spent up to the
    documented < K truncation remainder, and the saturated set is a
    prefix of the capacity order."""
    import duckdb as _dd

    rows = _dd.sql(
        "SELECT lang, text FROM"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    caps: dict[str, int] = {}
    for lang, t in rows:
        caps[lang] = caps.get(lang, 0) + len(
            [w for w in t.lower().split() if w]
        )
    E = pipeline.UNIMAX_EPOCH_CAP
    total = sum(caps.values())
    budget = (
        total * pipeline.UNIMAX_BUDGET_NUM // pipeline.UNIMAX_BUDGET_DEN
    )
    order = sorted(caps, key=lambda g: (caps[g] * E, g))
    remaining, k_left = budget, len(order)
    expect: dict[str, tuple[int, int]] = {}
    level = None
    for g in order:
        cap_e = caps[g] * E
        if level is None and cap_e <= remaining // k_left:
            expect[g] = (1, cap_e)
            remaining -= cap_e
            k_left -= 1
        else:
            # first unsaturated language: freeze the uniform water
            # level (the documented contract — the <K truncation
            # remainder is left unspent, NOT redistributed)
            if level is None:
                level = remaining // k_left
            expect[g] = (0, level)
            remaining -= level

    got = {
        r.lang: (
            r.cap_tokens,
            r.cap_epoch_tokens,
            r.saturated,
            r.alloc_tokens,
            r.epochs_ppm,
        )
        for r in pipeline.corpus_unimax_budget(spark, SF).collect()
    }
    assert set(got) == set(caps)
    for g, (cap, cap_e, sat, alloc, ep) in got.items():
        assert cap == caps[g] and cap_e == cap * E
        assert (sat, alloc) == expect[g]
        assert alloc <= cap_e
        assert ep == alloc * 1_000_000 // max(cap, 1)
    spent = sum(a for _, a in expect.values())
    assert 0 <= budget - spent < len(caps)
    sat_flags = [got[g][2] for g in order]
    assert sat_flags == sorted(sat_flags, reverse=True)


def test_doremi_python_reference(spark):
    """Replay the linearized Group-DRO rounds in plain Python
    (multiplicative step on the excess proxy + truncating
    renormalization) and compare every iterate exactly; the domain
    with the largest excess must end with the largest final weight."""
    import duckdb as _dd

    raw = _dd.sql(
        "SELECT source, text FROM"
        " read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    stop = set(pipeline.EN_STOPWORDS)
    agg: dict[str, list[int]] = {}
    for s, t in raw:
        toks = [w for w in t.lower().split() if w]
        a = agg.setdefault(s, [0, 0])
        a[0] += len(toks)
        a[1] += sum(1 for w in toks if w in stop)
    t_all = sum(v[0] for v in agg.values())
    s_all = sum(v[1] for v in agg.values())
    base = s_all * 1_000_000 // max(t_all, 1)
    k = len(agg)
    excess = {
        s: abs(v[1] * 1_000_000 // max(v[0], 1) - base)
        for s, v in agg.items()
    }
    w = {s: 1_000_000 // k for s in agg}
    iters = [dict(w)]
    for _ in range(pipeline.DOREMI_ROUNDS):
        u = {
            s: w[s]
            * (1_000_000 + pipeline.DOREMI_ETA * excess[s])
            // 1_000_000
            for s in agg
        }
        su = sum(u.values())
        w = {s: u[s] * 1_000_000 // su for s in agg}
        iters.append(dict(w))
    expect = {
        s: (
            agg[s][0],
            excess[s],
            *[it[s] for it in iters],
            sum(it[s] for it in iters[1:]) // pipeline.DOREMI_ROUNDS,
        )
        for s in agg
    }
    got = {
        r.source: (
            r.tokens,
            r.excess_ppm,
            r.w0,
            r.w1,
            r.w2,
            r.w3,
            r.w_final_ppm,
        )
        for r in pipeline.corpus_doremi_weights(spark, SF).collect()
    }
    assert got == expect
    top_excess = max(got, key=lambda s: (got[s][1], s))
    top_weight = max(got, key=lambda s: (got[s][6], s))
    assert top_excess == top_weight
    assert sum(v[6] for v in got.values()) <= 1_000_000


def test_split_leakage_consistent_with_pair_table(spark):
    """Recompute the leakage audit in Python from the (already
    hash-verified) minhash pair table plus the exact split rule, and
    compare every per-source row; leaked docs are always a subset of
    the eval population."""
    from kafka_pyspark_bigdata_spark.operators import dedup
    from kafka_pyspark_bigdata_spark.sources.batch import load_table

    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, SF)
        .select("doc_a", "doc_b")
        .collect()
    ]
    docs = {
        r.doc_id: (r.source, r.bucket < pipeline.TRAIN_BUCKETS)
        for r in load_table(spark, SF, "documents")
        .withColumn("bucket", pipeline.hash_bucket_expr())
        .select("doc_id", "source", "bucket")
        .collect()
    }
    leaked: dict[str, set[int]] = {}
    cross: dict[str, int] = {}
    for a, b in pairs:
        (sa, ta), (sb, tb) = docs[a], docs[b]
        if ta == tb:
            continue
        ev, src = (b, sb) if ta else (a, sa)
        leaked.setdefault(src, set()).add(ev)
        cross[src] = cross.get(src, 0) + 1
    n_eval: dict[str, int] = {}
    for _, (src, tr) in docs.items():
        if not tr:
            n_eval[src] = n_eval.get(src, 0) + 1
    got = {
        r.source: (r.n_eval, r.n_leaked, r.n_cross_pairs, r.leak_ppm)
        for r in pipeline.corpus_split_leakage(spark, SF).collect()
    }
    assert set(got) == set(n_eval)
    for src, (ne, nl, nc, ppm) in got.items():
        assert ne == n_eval[src]
        assert nl == len(leaked.get(src, set()))
        assert nc == cross.get(src, 0)
        assert ppm == nl * 1_000_000 // max(ne, 1)
        assert nl <= ne
