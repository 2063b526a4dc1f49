"""Known-answer tests for the text-analysis / dedup operators."""

from __future__ import annotations

import hashlib

import pytest

from energydatalake_spark.text.dedup import (
    exact_dedup,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from energydatalake_spark.text.stats import fingerprints, language_id, text_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat and the dog ran"),
        (2, "the cat sat on the mat and the dog walked"),  # near-dup of 1
        (3, "completely different words here nothing shared at all today"),
        (4, "the cat sat on the mat and the dog ran"),  # exact dup of 1
        (5, "le chat est sur le tapis et le chien"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_text_stats_known(spark, docs):
    r = {x.doc_id: x for x in text_stats(docs).collect()}
    d1 = r[1]
    assert d1.n_tokens == 10
    assert d1.n_chars == len("the cat sat on the mat and the dog ran")
    assert d1.n_stopwords == 4  # 'the' ×3 + 'and'
    assert d1.n_uniq_tokens == 8
    assert d1.punct_ratio == 0.0
    assert 0.0 < d1.quality_score <= 1.0


def test_language_id(spark, docs):
    pred = {x.doc_id: x.pred_lang for x in language_id(docs).collect()}
    assert pred[1] == "en"
    assert pred[5] == "fr"
    assert pred[3] == "und"  # no stopwords at all


def test_fingerprints(spark, docs):
    fp = {x.doc_id: x for x in fingerprints(docs, n=5).collect()}
    expect = hashlib.md5(b"the cat sat on the mat and the dog ran").hexdigest()
    assert fp[1].md5_fp == expect
    assert fp[1].md5_fp == fp[4].md5_fp
    assert fp[1].min_shingle_fp is not None
    # identical docs → identical rolling fingerprint
    assert fp[1].min_shingle_fp == fp[4].min_shingle_fp


def test_fingerprint_short_doc_null(spark):
    df = spark.createDataFrame([(1, "too short")], "doc_id bigint, text string")
    row = fingerprints(df, n=5).collect()[0]
    assert row.min_shingle_fp is None


def test_exact_dedup(spark, docs):
    groups = {r.canonical_id: r.n_copies for r in exact_dedup(docs).collect()}
    assert groups[1] == 2  # docs 1 and 4
    assert groups[2] == 1
    assert len(groups) == 4


def test_minhash_finds_near_dup(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs  # near dup shares most shingles
    assert all({a, b} != {1, 3} for a, b in pairs)  # unrelated not paired


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    assert pairs[(1, 4)] == 1.0
    assert 0.3 <= pairs[(1, 2)] < 1.0


def test_simhash_identity_and_pairs(spark, docs):
    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sh[1] == sh[4]
    assert 0 <= sh[1] < (1 << 32)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(docs, max_hamming=8, band_bits=2).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs  # near-dup within hamming 8


def _boilerplate_corpus(spark, n_docs=30):
    """Every doc shares one boilerplate shingle run ('copyright acme corp
    license'); docs 2k/2k+1 additionally share a rare per-pair phrase."""
    rows = []
    for i in range(n_docs):
        pair_phrase = f"unique phrase number {i // 2} appears twice"
        rows.append((i, f"copyright acme corp license {pair_phrase}"))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_ngram_cap_skips_boilerplate_only_pairs(spark):
    """Verdict r1 item 6: the doc-frequency cap must stop the
    shared-shingle join from detonating on boilerplate. Pairs whose only
    shared shingles are boilerplate (doc_freq > cap) are skipped; pairs
    sharing a rare shingle keep their EXACT full-set Jaccard."""
    docs = _boilerplate_corpus(spark)
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1,
                                     max_doc_freq=None).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.1,
                                     max_doc_freq=5).collect()
    }
    # Candidate count bounded: only the 15 true pairs survive (uncapped
    # scores all C(30,2)=435 pairs above 0.1 via boilerplate overlap).
    assert len(uncapped) == 435
    assert set(capped) == {(2 * k, 2 * k + 1) for k in range(15)}
    # Cap affects candidate generation only — values are the exact ones.
    for pair, j in capped.items():
        assert j == uncapped[pair]
        assert j == 1.0  # paired docs are identical


def test_ngram_cap_default_is_transparent(spark, docs):
    """With doc_freq below the default cap, results match uncapped."""
    a = sorted(map(tuple, ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()))
    b = sorted(map(tuple, ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                              max_doc_freq=None).collect()))
    assert a == b


def test_shingle_cache_release(spark, docs):
    from energydatalake_spark.text.dedup import (
        _SHINGLE_CACHE,
        release_shingle_cache,
    )

    release_shingle_cache()
    ngram_jaccard_pairs(docs, n=3, threshold=0.3).count()
    minhash_pairs(docs, n=3, threshold=0.3).count()
    assert len(_SHINGLE_CACHE) >= 2
    cached = list(_SHINGLE_CACHE)
    assert all(c.is_cached for c in cached)
    released = release_shingle_cache(blocking=True)
    assert released >= 2 and not _SHINGLE_CACHE
    assert all(not c.is_cached for c in cached)


def test_shingle_frame_geometry_mismatch_raises(spark, docs):
    """A shared shingle frame of another width, or one stripped of its
    columns, is refused before any Spark job runs instead of yielding
    pairs for the wrong geometry."""
    from energydatalake_spark.text.dedup import (
        release_shingle_cache,
        shared_shingle_frame,
    )

    sc = spark.sparkContext
    sh5 = shared_shingle_frame(docs, n=5)
    sc.setJobGroup("test-shingle-geometry", "geometry check")
    try:
        with pytest.raises(ValueError, match="geometry"):
            minhash_pairs(docs, n=3, threshold=0.3, shingle_frame=sh5)
        with pytest.raises(ValueError, match="geometry"):
            ngram_jaccard_pairs(docs, n=3, threshold=0.3, shingle_frame=sh5)
        with pytest.raises(ValueError, match="geometry"):
            minhash_pairs(docs, n=5, id_col="id", shingle_frame=sh5)
        stripped = sh5.select("doc_id", "sh")
        stripped._shingle_geometry = ("text", "doc_id", 5)
        with pytest.raises(ValueError, match="h0"):
            minhash_pairs(docs, n=5, shingle_frame=stripped)
        assert not sc.statusTracker().getJobIdsForGroup("test-shingle-geometry")
    finally:
        sc._jsc.clearJobGroup()
        release_shingle_cache()


def test_repetition_stats_known_values(spark):
    from energydatalake_spark.text.stats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),            # all distinct
            (2, "x x x x"),              # one word repeated 4x
            (3, "a b a b a b a b"),      # ab-gram loop
            (4, "q r"),                  # too short for 3-grams
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    r1 = rows[1]
    assert (r1.n_words, r1.n_distinct_words, r1.top_word_count) == (5, 5, 1)
    assert r1.dup_word_frac == 0.0 and r1.dup_ngram_frac == 0.0
    r2 = rows[2]
    assert (r2.n_words, r2.n_distinct_words, r2.top_word_count) == (4, 1, 4)
    assert r2.top_word_frac == 1.0
    # "x x x" twice out of 2 grams -> all grams duplicate one another
    assert r2.dup_ngram_frac == 0.5
    r3 = rows[3]
    assert r3.top_word_count == 4 and r3.dup_word_frac == 0.75
    # grams: "a b a" x3, "b a b" x3 -> (6 - 2) / 6
    assert abs(r3.dup_ngram_frac - 4 / 6) < 1e-12
    r4 = rows[4]
    assert r4.n_words == 2 and r4.dup_ngram_frac == 0.0


def test_min_sig_agree_cutoff_and_prefilter(spark):
    """min_sig_agree = floor(k*t/2) (half the threshold expectation:
    at k=32,t=0.5 a borderline true pair survives with P ~ 0.999 while
    a saturated-vocab random pair with 2 agreeing slots is dropped),
    and minhash_pairs drops a band-colliding pair whose signature
    agreement sits below the cutoff while keeping a genuine near-dup."""
    from energydatalake_spark.text.dedup import min_sig_agree, minhash_pairs

    assert min_sig_agree(16, 2, 0.5) == 8
    assert min_sig_agree(16, 3, 0.5) == 12
    assert min_sig_agree(8, 2, 0.25) == 2
    assert min_sig_agree(16, 2, 0.0) == 0  # degenerate: filter off

    # Two near-identical docs (one token changed) must survive the
    # prefilter end-to-end; with threshold=0 and the derived cutoff 0
    # the result must be a superset of the threshold=0.5 result (the
    # prefilter only ever removes low-estimate candidates).
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy cat again"),
            (3, "completely different words in this sentence here now"),
        ],
        "doc_id bigint, text string",
    )
    strict = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in strict
    loose = {
        (r.id_a, r.id_b)
        for r in minhash_pairs(docs, threshold=0.0).collect()
    }
    assert set(strict) <= loose


def _probe_ex(spark, rows):
    """The exact (id, h0, sh) explode minhash_pairs builds — the
    input _auto_band_rows sees."""
    from pyspark.sql import functions as F

    from energydatalake_spark.text.dedup import _exploded_shingles
    from energydatalake_spark.text.stats import _hex8_to_long, _hex15_to_long

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    md = F.md5(F.col("shingle"))
    return _exploded_shingles(df, "text", "doc_id", 3).select(
        F.col("doc_id"),
        _hex8_to_long(md).alias("h0"),
        _hex15_to_long(md).alias("sh"),
    )


def _saturated_rows(n_docs=240, vocab=("aa", "bb", "cc", "dd"), seed=11):
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        (i, " ".join(rng.choice(vocab, size=24))) for i in range(n_docs)
    ]


def test_auto_band_rows_escalates_on_saturation(spark):
    """Band-geometry circuit breaker (VERDICT r11 #4): a saturated
    shingle universe (4-word vocab → mean shingle df ≫ the pre-signal
    bound, nearly every band bucket fat) must escalate rows above the
    static geometry; a healthy Heaps-law-ish corpus (all-distinct
    tokens, mean df = 1) must short-circuit on the pre-signal and keep
    it. Deterministic inputs → deterministic choice."""
    from energydatalake_spark.text.dedup import _auto_band_rows

    sat = _probe_ex(spark, _saturated_rows())
    chosen = _auto_band_rows(
        sat, "doc_id", bands=16, rows=2, rows_max=4, max_cand_per_doc=16.0
    )
    assert chosen > 2
    assert chosen == _auto_band_rows(  # same inputs, same geometry
        sat, "doc_id", bands=16, rows=2, rows_max=4, max_cand_per_doc=16.0
    )

    healthy = _probe_ex(
        spark,
        [
            (i, " ".join(f"w{i}x{j}" for j in range(24)))
            for i in range(240)
        ],
    )
    assert (
        _auto_band_rows(
            healthy, "doc_id", bands=16, rows=2, rows_max=4, max_cand_per_doc=16.0
        )
        == 2
    )


def test_minhash_auto_geometry_output_contract(spark):
    """The escalated geometry keeps the operator's output contract:
    every emitted pair is exactly verified (jaccard ≥ threshold — the
    verify stage is geometry-independent), and exact duplicates
    (jaccard 1, band collision certain at any rows) survive the
    switch. NOT asserted: auto ⊆ static — different rows means
    different permutation indices, so either geometry can band-collide
    a borderline pair the other misses (the recall trade is
    probabilistic per geometry, not monotone between them; r12
    review)."""
    from energydatalake_spark.text.dedup import release_shingle_cache

    rows = _saturated_rows()
    rows.append((9001, rows[5][1]))  # exact dup of doc 5
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    try:
        auto = {
            (r.id_a, r.id_b): r.jaccard
            for r in minhash_pairs(
                df, n=3, threshold=0.5, auto_rows_max=4
            ).collect()
        }
    finally:
        release_shingle_cache()
    assert auto, "escalated geometry found no pairs at all"
    assert all(j >= 0.5 for j in auto.values())
    assert auto[(5, 9001)] == 1.0


def test_minhash_sig_prefilter_opt_out(spark, docs):
    """sig_prefilter=False restores full-verify recall (ADVICE r11
    #2): every band-colliding candidate reaches the exact verify, so
    its output is a superset of the prefiltered default — and on this
    corpus (no borderline pairs near the cutoff) they are equal."""
    from energydatalake_spark.text.dedup import release_shingle_cache

    try:
        pre = {
            (r.id_a, r.id_b)
            for r in minhash_pairs(docs, n=3, threshold=0.3).collect()
        }
        full = {
            (r.id_a, r.id_b)
            for r in minhash_pairs(
                docs, n=3, threshold=0.3, sig_prefilter=False
            ).collect()
        }
    finally:
        release_shingle_cache()
    assert pre <= full
    assert (1, 4) in full


def test_minhash_sig_reuse_identical_output(spark):
    """Armed-but-no-escalation path (the sf1 class): the breaker
    probes the persisted starting-geometry signatures and the main
    pipeline REUSES that frame — output must be identical to the
    unarmed run at the same geometry (same permutations, same verify;
    a huge max_cand_per_doc forces chosen == rows while the saturated
    corpus still fires the pre-signal and materializes the probe)."""
    from energydatalake_spark.text.dedup import release_shingle_cache

    df = spark.createDataFrame(
        _saturated_rows(), "doc_id bigint, text string"
    )
    try:
        unarmed = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in minhash_pairs(df, n=3, threshold=0.5).collect()
        }
        reused = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in minhash_pairs(
                df, n=3, threshold=0.5,
                auto_rows_max=4, max_cand_per_doc=1e12,
            ).collect()
        }
    finally:
        release_shingle_cache()
    assert reused == unarmed and unarmed


def test_simhash_shingle_features_discriminate_zipf(spark):
    """r13: unigram-multiset simhash collapses on zipf-headed text —
    every doc shares the frequency head, so fingerprints crowd within
    a few bits and the hamming-ball pair set goes quadratic (the
    Heaps-probe x100 failure). Distinct 3-gram shingle features keep
    unrelated docs far apart while an exact copy still lands at
    hamming 0."""
    import numpy as np

    rng = np.random.default_rng(5)
    head = ["the", "of", "and", "to", "in"]
    rows = []
    for i in range(40):
        # ~70% head tokens (zipf-ish), 30% doc-specific tail
        toks = []
        for j in range(30):
            if rng.random() < 0.7:
                toks.append(head[int(rng.integers(0, 5))])
            else:
                toks.append(f"tail{i}_{j}")
        rows.append((i, " ".join(toks)))
    rows.append((40, rows[7][1]))  # exact copy of doc 7
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    uni = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            df, bits=60, max_hamming=3, band_bits=15
        ).collect()
    }
    sh3 = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(
            df, bits=60, max_hamming=3, band_bits=15, n=3
        ).collect()
    }
    assert (7, 40) in sh3          # true dup survives
    assert sh3 == {(7, 40)}        # and nothing else pairs
    # the unigram form on the same corpus pairs unrelated docs
    assert len(uni) > len(sh3)
    # Parameter checks: fingerprints wider than 60 bits hit simhash's
    # portable-hash cap, and max_hamming must stay below the band count
    # (4 bands of 15 bits) for the pigeonhole banding to be exhaustive.
    for bad_kw in (
        dict(bits=90, band_bits=30),
        dict(bits=120, band_bits=30),
        dict(bits=60, band_bits=15, max_hamming=4),
    ):
        with pytest.raises(ValueError):
            simhash_pairs(df, **bad_kw)


def test_simhash_shingle_short_docs_have_no_fingerprint(spark):
    """Docs shorter than n words yield no shingle features and no
    fingerprint row — mirrored by the oracle's len(toks) >= n guard."""
    df = spark.createDataFrame(
        [(1, "two words"), (2, "three word doc"), (3, "a much longer document here")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id for r in simhash(df, n=3).collect()}
    assert out == {2, 3}


