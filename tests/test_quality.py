"""Oracle smoke + invariants for the corpus-quality operators
(repetition stats, PII scrub)."""

from __future__ import annotations

from kafka_pyspark_bigdata_spark.operators import quality

from conftest import SF_SMOKE, oracle_test


test_quality_oracle = oracle_test(quality)


def test_repetition_bounds(spark):
    """Fractions live in [0,1]; the top unigram occurs at least as often
    as the top bigram (a bigram's count is bounded by its first word's)."""
    df = quality.text_repetition(spark, SF_SMOKE)
    assert df.filter("dup_word_frac < 0 OR dup_word_frac > 1").count() == 0
    assert df.filter("top_unigram_frac <= 0 OR top_unigram_frac > 1").count() == 0
    assert df.filter("top_bigram_n > top_unigram_n").count() == 0


def test_pii_scrub_redacts_all(spark):
    """After redaction the injected email+phone are gone from every head;
    every doc detects at least one of each (the synthetic header)."""
    df = quality.text_pii_scrub(spark, SF_SMOKE)
    assert df.filter("n_emails < 1 OR n_phones < 1").count() == 0
    assert df.filter("redacted_head LIKE '%@example.com%'").count() == 0
    assert df.filter("redacted_head NOT LIKE '%<EMAIL>%'").count() == 0


def test_quality_floor_decile_bound(spark):
    """A P10 floor can drop at most ceil(n/10) documents per language, and
    kept + dropped must tile the language exactly."""
    from kafka_pyspark_bigdata_spark.operators import quality

    for r in quality.corpus_quality_floor(spark, "/root/testdata/sf0.001").collect():
        assert r.n_kept + r.n_dropped == r.n_docs
        assert r.n_dropped <= (r.n_docs + 9) // 10


def test_gopher_rules_pass_all_bounded_by_every_rule(spark):
    """The conjunction can never pass more docs than any single rule, the
    per-rule passes are bounded by n_docs, and the ppm rate is exactly the
    integer division of the counts."""
    for r in quality.quality_gopher_rules(spark, SF_SMOKE).collect():
        rules = [
            r.pass_wordcount,
            r.pass_meanwordlen,
            r.pass_alphafrac,
            r.pass_symbolratio,
            r.pass_stopwords,
        ]
        assert all(0 <= p <= r.n_docs for p in rules)
        assert r.n_pass_all <= min(rules)
        assert r.pass_all_ppm == r.n_pass_all * 1_000_000 // r.n_docs


def test_gopher_rules_match_python_reference(spark):
    """Re-evaluate all five rules in plain Python on the raw fixture and
    compare the per-source pass-all counts bit-for-bit."""
    import collections

    import duckdb as _dd

    rows = _dd.sql(
        f"SELECT source, text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    stops = set(quality.GOPHER_STOPWORDS)
    expect: dict[str, int] = collections.defaultdict(int)
    for source, text in rows:
        toks = [t for t in text.lower().split() if t]
        nw = len(toks)
        sl = sum(len(t) for t in toks)
        na = sum(1 for t in toks if any("a" <= c <= "z" for c in t))
        ns = sum(1 for t in toks if t in stops)
        nsym = text.count("#") + text.count("...")
        ok = (
            quality.GOPHER_MIN_WORDS <= nw <= quality.GOPHER_MAX_WORDS
            and 3 * nw <= sl <= 10 * nw
            and 5 * na >= 4 * nw
            and 10 * nsym <= nw
            and ns >= 2
        )
        expect[source] += int(ok)
    got = {
        r.source: r.n_pass_all
        for r in quality.quality_gopher_rules(spark, SF_SMOKE).collect()
    }
    assert got == dict(expect)


def test_gopher_repetition_invariants(spark):
    """All ppm metrics live in [0, 1e6]; the keep verdict recomputes
    exactly from the ppm columns and thresholds; every augmented doc
    (its own first paragraph prepended) fails the battery."""
    rows = quality.quality_gopher_repetition(spark, SF_SMOKE).collect()
    assert rows
    ppm_cols = list(quality.GOPHER_REP_MAX_PPM)
    for r in rows:
        for c in ppm_cols:
            assert 0 <= r[c] <= 1_000_000, (r.doc_id, c, r[c])
        expect_keep = int(
            all(r[c] <= quality.GOPHER_REP_MAX_PPM[c] for c in ppm_cols)
        )
        assert r.keep == expect_keep, r
        if r.doc_id % 4 == 0 and r.n_toks >= 2 * quality.GREP_PARA:
            # prefix copy == first paragraph duplicated -> battery fails
            assert r.dup_para_ppm > 0 and r.keep == 0, r


def test_gopher_repetition_python_reference(spark):
    """Recompute dup_line_ppm and dup5_char_ppm in plain Python on the
    raw fixture (same augmentation) and compare bit-for-bit."""
    import collections

    import duckdb as _dd

    rows = _dd.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    L, P = quality.GREP_LINE, quality.GREP_PARA
    expect = {}
    for doc_id, text in rows:
        toks = [t for t in text.lower().split() if t]
        if doc_id % 4 == 0:
            toks = toks[:P] + toks
        n = len(toks)
        total = sum(len(t) for t in toks)
        lines = [" ".join(toks[i * L : i * L + L]) for i in range((n + L - 1) // L)]
        dup_line_ppm = (len(lines) - len(set(lines))) * 1_000_000 // len(lines)
        g = 5
        cnt = collections.Counter(
            tuple(toks[s : s + g]) for s in range(n - g + 1)
        )
        covered = set()
        for s in range(n - g + 1):
            if cnt[tuple(toks[s : s + g])] >= 2:
                covered.update(range(s, s + g))
        cov_chars = sum(len(toks[p]) for p in covered)
        expect[doc_id] = (dup_line_ppm, cov_chars * 1_000_000 // total)
    got = {
        r.doc_id: (r.dup_line_ppm, r.dup5_char_ppm)
        for r in quality.quality_gopher_repetition(spark, SF_SMOKE).collect()
    }
    assert got == expect


def test_ccnet_buckets_are_balanced_and_ordered(spark):
    """Per language: tercile sizes differ by at most one (ntile), the
    score ranges are non-overlapping in bucket order (head's min >=
    middle's max >= tail's max boundary-wise), and doc counts sum to
    the number of scoreable (>= 2 token) documents."""
    import duckdb as _dd

    df = quality.quality_ccnet_buckets(spark, SF_SMOKE)
    rows = df.collect()
    assert {r.bucket for r in rows} == {"head", "middle", "tail"}
    by_lang: dict[str, dict[int, object]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.tercile] = r
    n_scoreable = _dd.sql(
        f"SELECT lang, count(*) FROM read_parquet('{SF_SMOKE}/documents.parquet')"
        " WHERE len(list_filter(string_split_regex(lower(text), '\\s+'),"
        " t -> t <> '')) >= 2 GROUP BY lang"
    ).fetchall()
    expect_n = dict(n_scoreable)
    for lang, buckets in by_lang.items():
        assert set(buckets) == {1, 2, 3}
        sizes = [buckets[t].n_docs for t in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1
        assert sum(sizes) == expect_n[lang]
        assert buckets[1].min_score_ppm >= buckets[2].max_score_ppm
        assert buckets[2].min_score_ppm >= buckets[3].max_score_ppm


def test_fineweb_rules_python_reference(spark):
    """Recompute the full FineWeb battery in plain Python on the raw
    fixture (same chunking + deterministic decoration) and compare every
    ppm column and the keep verdict bit-for-bit; also assert the
    decoration actually exercises both sides of the punct and bullet
    thresholds."""
    import duckdb as _dd

    rows = _dd.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    W = quality.GREP_LINE
    expect = {}
    for doc_id, text in rows:
        toks = [t for t in text.lower().split() if t]
        if not toks:
            continue
        lines = []
        for i in range((len(toks) + W - 1) // W):
            ln = " ".join(toks[i * W : i * W + W])
            if i % 10 < doc_id % 11:
                ln = "- " + ln
            if i % (1 + doc_id % 12) == 0:
                ln = ln + "."
            lines.append(ln)
        n = len(lines)
        total = sum(len(x) for x in lines)
        srt = sorted(lines)
        dup = sum(
            len(srt[i]) for i in range(1, n) if srt[i] == srt[i - 1]
        )
        punct = sum(1 for x in lines if x[-1] in '.!?"') * 1_000_000 // n
        short = (
            sum(1 for x in lines if len(x) < quality.FW_SHORT_CHARS)
            * 1_000_000
            // n
        )
        bullet = sum(1 for x in lines if x[0] in "-*") * 1_000_000 // n
        dupp = dup * 1_000_000 // total
        keep = int(
            punct > quality.FW_PUNCT_MIN_PPM
            and short < quality.FW_SHORT_MAX_PPM
            and dupp < quality.FW_DUPCHAR_MAX_PPM
            and bullet <= quality.FW_BULLET_MAX_PPM
        )
        expect[doc_id] = (n, punct, short, bullet, dupp, keep)
    got = {
        r.doc_id: (
            r.n_lines,
            r.punct_line_ppm,
            r.short_line_ppm,
            r.bullet_line_ppm,
            r.dup_char_ppm,
            r.keep,
        )
        for r in quality.quality_fineweb_rules(spark, SF_SMOKE).collect()
    }
    assert got == expect
    puncts = [v[1] for v in expect.values()]
    bullets = [v[3] for v in expect.values()]
    assert min(puncts) <= quality.FW_PUNCT_MIN_PPM < max(puncts)
    assert min(bullets) <= quality.FW_BULLET_MAX_PPM < max(bullets)


def test_readability_python_reference(spark):
    """Recompute Flesch-Kincaid / Reading Ease in plain Python (explicit
    vowel-group syllable scan, the deterministic sentence-length rule)
    and compare the per-source rollup exactly."""
    import duckdb as _dd

    raw = _dd.sql(
        "SELECT doc_id, source, text FROM"
        f" read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    vowels = set("aeiouy")

    def syl(w: str) -> int:
        n = 0
        for i, c in enumerate(w):
            if c in vowels and (i == 0 or w[i - 1] not in vowels):
                n += 1
        return max(1, n)

    agg: dict[str, list[int]] = {}
    for d, s, t in raw:
        toks = [w for w in t.lower().split() if w]
        if not toks:
            continue
        sl = 3 + d % 17
        a = agg.setdefault(s, [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(toks)
        a[2] += (len(toks) + sl - 1) // sl
        a[3] += sum(syl(w) for w in toks)
    expect = {
        s: (
            v[0],
            v[1],
            v[2],
            v[3],
            390000 * v[1] // v[2] + 11800000 * v[3] // v[1] - 15590000,
            206835000 - 1015000 * v[1] // v[2] - 84600000 * v[3] // v[1],
        )
        for s, v in agg.items()
    }
    got = {
        r.source: (
            r.n_docs,
            r.words,
            r.sentences,
            r.syllables,
            r.fk_grade_ppm,
            r.fre_ppm,
        )
        for r in quality.text_readability_fk(spark, SF_SMOKE).collect()
    }
    assert got == expect
