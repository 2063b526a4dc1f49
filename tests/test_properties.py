"""Property tests (SURVEY.md §5 rebuild strategy): hypothesis-generated
inputs against independent oracles for the operators where correctness
is subtle — above all the distributed as-of join, whose keyless path
(range buckets + carry table) must equal pd.merge_asof on ANY input,
including empty sides, duplicate timestamps, and left rows preceding
every right row.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from energydatalake_spark.operators.asof import asof_join
from energydatalake_spark.operators.band import band_join
from energydatalake_spark.operators.clean import dedup

TS = st.integers(min_value=0, max_value=500)
KEY = st.sampled_from(["a", "b"])

_prop_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _pandas_asof(left_ts, right_rows, by=None):
    """merge_asof oracle on plain ints (backward, inclusive)."""
    lp = pd.DataFrame({"ts": sorted(left_ts)})
    rp = pd.DataFrame(right_rows, columns=["ts", "rv"]).sort_values(["ts", "rv"])
    # tie on right ts: merge_asof takes the LAST sorted row; our window
    # fill does the same (later rows overwrite), provided a defined
    # order among equal timestamps — so dedupe right ts keeping max rv.
    rp = rp.groupby("ts", as_index=False)["rv"].max()
    if len(rp):
        merged = pd.merge_asof(lp, rp, on="ts")
    else:
        merged = lp.assign(rv=None)
    return sorted(
        (int(t), None if pd.isna(v) else int(v))
        for t, v in zip(merged["ts"], merged["rv"])
    )


@given(
    left=st.lists(TS, min_size=1, max_size=30),
    right=st.lists(st.tuples(TS, st.integers(0, 100)), max_size=30),
)
@_prop_settings
def test_keyless_asof_matches_merge_asof(spark, left, right):
    ldf = spark.createDataFrame([(t,) for t in left], "ts bigint")
    if right:
        rdf = spark.createDataFrame(
            [(t, v) for t, v in right], "ts bigint, rv bigint"
        )
    else:
        rdf = spark.createDataFrame([], "ts bigint, rv bigint")
    # mirror the oracle's tie rule deterministically: keep max rv per ts
    rdf = rdf.groupBy("ts").agg(F.max("rv").alias("rv"))
    got = sorted(
        (r.ts, r.rv)
        for r in asof_join(ldf, rdf, on="ts", time_buckets=4).collect()
    )
    assert got == _pandas_asof(left, right)


@given(
    left=st.lists(st.tuples(KEY, TS), min_size=1, max_size=25),
    right=st.lists(st.tuples(KEY, TS, st.integers(0, 100)), max_size=25),
)
@_prop_settings
def test_keyed_asof_matches_merge_asof(spark, left, right):
    ldf = spark.createDataFrame(left, "k string, ts bigint")
    if right:
        rdf = spark.createDataFrame(right, "k string, ts bigint, rv bigint")
    else:
        rdf = spark.createDataFrame([], "k string, ts bigint, rv bigint")
    rdf = rdf.groupBy("k", "ts").agg(F.max("rv").alias("rv"))
    # bucket_by_time=False pins the PLAIN keyed window path (r19 auto
    # dispatch would route these few-key strategies to the bucketed
    # tier, which has its own dedicated property test below).
    got = sorted(
        (r.k, r.ts, r.rv)
        for r in asof_join(
            ldf, rdf, on="ts", by=["k"], bucket_by_time=False
        ).collect()
    )
    expect = []
    for k in {k for k, _ in left}:
        lts = [t for kk, t in left if kk == k]
        rrows = [(t, v) for kk, t, v in right if kk == k]
        expect += [(k, t, v) for t, v in _pandas_asof(lts, rrows)]
    assert got == sorted(expect)


def _pandas_asof_dir(left_ts, right_rows, direction, tolerance=None):
    """merge_asof oracle with direction/tolerance on plain ints; right
    deduped to one row per ts (max rv) so tie rules cannot differ."""
    lp = pd.DataFrame({"ts": sorted(left_ts)})
    rp = pd.DataFrame(right_rows, columns=["ts", "rv"])
    rp = rp.groupby("ts", as_index=False)["rv"].max().sort_values("ts")
    if len(rp):
        merged = pd.merge_asof(
            lp, rp, on="ts", direction=direction, tolerance=tolerance
        )
    else:
        merged = lp.assign(rv=None)
    return sorted(
        (int(t), None if pd.isna(v) else int(v))
        for t, v in zip(merged["ts"], merged["rv"])
    )


@given(
    left=st.lists(TS, min_size=1, max_size=25),
    right=st.lists(st.tuples(TS, st.integers(0, 100)), max_size=25),
)
@_prop_settings
def test_keyless_asof_directions_match_merge_asof(spark, left, right):
    """forward and nearest on the keyless (range-bucketed) path equal
    pd.merge_asof for ANY input — including the cross-bucket carries."""
    ldf = spark.createDataFrame([(t,) for t in left], "ts bigint")
    rdf = (
        spark.createDataFrame(right, "ts bigint, rv bigint")
        if right
        else spark.createDataFrame([], "ts bigint, rv bigint")
    ).groupBy("ts").agg(F.max("rv").alias("rv"))
    for direction in ("forward", "nearest"):
        got = sorted(
            (r.ts, r.rv)
            for r in asof_join(
                ldf, rdf, on="ts", time_buckets=4, direction=direction
            ).collect()
        )
        assert got == _pandas_asof_dir(left, right, direction), direction


@given(
    left=st.lists(st.tuples(KEY, TS), min_size=1, max_size=20),
    right=st.lists(st.tuples(KEY, TS, st.integers(0, 100)), max_size=20),
)
@_prop_settings
def test_keyed_asof_directions_match_merge_asof(spark, left, right):
    ldf = spark.createDataFrame(left, "k string, ts bigint")
    rdf = (
        spark.createDataFrame(right, "k string, ts bigint, rv bigint")
        if right
        else spark.createDataFrame([], "k string, ts bigint, rv bigint")
    ).groupBy("k", "ts").agg(F.max("rv").alias("rv"))
    for direction in ("forward", "nearest"):
        got = sorted(
            (r.k, r.ts, r.rv)
            for r in asof_join(
                ldf, rdf, on="ts", by=["k"], direction=direction,
                bucket_by_time=False,  # pin the plain keyed path (see above)
            ).collect()
        )
        expect = []
        for k in {k for k, _ in left}:
            lts = [t for kk, t in left if kk == k]
            rrows = [(t, v) for kk, t, v in right if kk == k]
            expect += [(k, t, v) for t, v in _pandas_asof_dir(lts, rrows, direction)]
        assert got == sorted(expect), direction


KEYN = st.sampled_from(["a", "b", None])  # NULL is a real by-key


def _nullsafe_sort(rows):
    return sorted(
        rows,
        key=lambda t: tuple((x is None, x if x is not None else 0) for x in t),
    )


@given(
    left=st.lists(st.tuples(KEYN, TS), min_size=1, max_size=20),
    right=st.lists(st.tuples(KEYN, TS, st.integers(0, 100)), max_size=20),
    tol=st.sampled_from([None, 0, 7, 60]),
)
@_prop_settings
def test_keyed_bucketed_asof_matches_merge_asof(spark, left, right, tol):
    """The low-cardinality-key tier (bucket_by_time=True: per-(key,
    time-bucket) fill + per-key carry seam) must equal pd.merge_asof
    for ANY input and every direction/tolerance — including NULL keys
    (the window fill groups NULLs, so the carry grid must be
    null-safe: the r18 review's confirmed bug), keys with no right
    rows, empty buckets mid-carry, and cross-bucket matches.
    time_buckets=4 on ts<=500 forces real bucket seams."""
    ldf = spark.createDataFrame(left, "k string, ts bigint")
    rdf = (
        spark.createDataFrame(right, "k string, ts bigint, rv bigint")
        if right
        else spark.createDataFrame([], "k string, ts bigint, rv bigint")
    ).groupBy("k", "ts").agg(F.max("rv").alias("rv"))
    for direction in ("backward", "forward", "nearest"):
        got = _nullsafe_sort(
            (r.k, r.ts, r.rv)
            for r in asof_join(
                ldf,
                rdf,
                on="ts",
                by=["k"],
                time_buckets=4,
                direction=direction,
                tolerance_seconds=tol,
                bucket_by_time=True,
            ).collect()
        )
        expect = []
        for k in {k for k, _ in left}:
            lts = [t for kk, t in left if kk == k]
            rrows = [(t, v) for kk, t, v in right if kk == k]
            expect += [
                (k, t, v)
                for t, v in _pandas_asof_dir(lts, rrows, direction, tolerance=tol)
            ]
        assert got == _nullsafe_sort(expect), (direction, tol)


@given(
    left=st.lists(TS, min_size=1, max_size=20),
    right=st.lists(st.tuples(TS, st.integers(0, 100)), max_size=20),
    tol=st.integers(0, 60),
)
@_prop_settings
def test_keyless_asof_tolerance_all_directions(spark, left, right, tol):
    """Tolerance drops out-of-range matches per direction (and per SIDE
    for nearest: an out-of-tolerance backward candidate must lose to an
    in-tolerance forward one)."""
    ldf = spark.createDataFrame([(t,) for t in left], "ts bigint")
    rdf = (
        spark.createDataFrame(right, "ts bigint, rv bigint")
        if right
        else spark.createDataFrame([], "ts bigint, rv bigint")
    ).groupBy("ts").agg(F.max("rv").alias("rv"))
    for direction in ("backward", "forward", "nearest"):
        got = sorted(
            (r.ts, r.rv)
            for r in asof_join(
                ldf,
                rdf,
                on="ts",
                time_buckets=4,
                tolerance_seconds=tol,
                direction=direction,
            ).collect()
        )
        assert got == _pandas_asof_dir(left, right, direction, tolerance=tol), (
            direction,
            tol,
        )


@given(rows=st.lists(st.tuples(KEY, st.integers(0, 3)), max_size=40))
@_prop_settings
def test_dedup_idempotent_and_set_equal(spark, rows):
    df = spark.createDataFrame(rows, "k string, v int") if rows else (
        spark.createDataFrame([], "k string, v int")
    )
    once = dedup(df)
    got = sorted((r.k, r.v) for r in once.collect())
    again = sorted((r.k, r.v) for r in dedup(once).collect())
    assert got == again == sorted(set(rows))


@given(
    points=st.lists(st.tuples(KEY, TS), min_size=1, max_size=20),
    intervals=st.lists(
        st.tuples(KEY, TS, st.integers(0, 50)), min_size=1, max_size=20
    ),
)
@_prop_settings
def test_band_join_equals_filtered_cross(spark, points, intervals):
    pdf = spark.createDataFrame(points, "k string, ts bigint")
    idf = spark.createDataFrame(
        [(k, s, s + w) for k, s, w in intervals], "k string, lo bigint, hi bigint"
    )
    got = sorted(
        (r.k, r.ts, r.lo, r.hi)
        for r in band_join(
            pdf, idf, left_ts="ts", right_start="lo", right_end="hi", on=["k"]
        ).collect()
    )
    expect = sorted(
        (k, t, lo, hi)
        for (k, t) in points
        for (k2, lo, hi) in ((k2, s, s + w) for k2, s, w in intervals)
        if k == k2 and lo <= t <= hi
    )
    assert got == expect


@given(
    ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=40, unique=True),
    w1=st.integers(1, 98),
    w2=st.integers(1, 98),
)
@_prop_settings
def test_hash_split_partitions_every_row_exactly_once(spark, ids, w1, w2):
    """For ANY weights, hash_split is a partition of the input: every
    row lands in exactly one split, and membership is reproducible."""
    from energydatalake_spark.text.sampling import hash_split

    if w1 + w2 >= 100:
        w2 = 100 - w1
    weights = {"a": w1 / 100, "b": w2 / 100, "c": (100 - w1 - w2) / 100}
    weights = {k: v for k, v in weights.items() if v > 0}
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    out = hash_split(df, weights).collect()
    assert len(out) == len(ids)
    assert {r.doc_id for r in out} == set(ids)
    assert {r.split for r in out} <= set(weights)
    again = {r.doc_id: r.split for r in hash_split(df, weights).collect()}
    assert again == {r.doc_id: r.split for r in out}


@given(
    sizes=st.lists(st.integers(1, 50), min_size=1, max_size=40),
    budget=st.integers(10, 200),
)
@_prop_settings
def test_pack_chunks_invariants(spark, sizes, budget):
    """Bins are contiguous per shard, start at 0, and every bin except
    possibly the last spans ≥ budget tokens counted at its boundary —
    for ANY chunk sizes and budget."""
    from energydatalake_spark.text.sampling import pack_chunks

    rows = [(0, c, s) for c, s in enumerate(sizes)]  # one doc → one shard
    df = spark.createDataFrame(rows, "doc_id bigint, chunk_id int, n_chunk_tokens bigint")
    out = sorted(pack_chunks(df, budget=budget, n_shards=4).collect(),
                 key=lambda r: r.chunk_id)
    assert out[0].bin_id == 0
    cum = 0
    for r in out:
        assert r.bin_id == cum // budget  # bin = floor(start offset / budget)
        cum += r.n_chunk_tokens
    bins = [r.bin_id for r in out]
    assert bins == sorted(bins)  # monotone in chunk order


@given(
    obs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(0, 72),  # hour offset
            st.floats(-100, 100, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    )
)
@_prop_settings
def test_resample_invariants(spark, obs):
    """For ANY observation set: the grid is dense per key (bucket count
    = span+1), n_obs sums to the input row count, filled_avg is never
    null (the first bucket of each key has data by construction), and
    gap buckets carry the previous bucket's value."""
    import datetime

    from energydatalake_spark.operators.resample import resample_locf

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (k, base + datetime.timedelta(hours=h), v) for k, h, v in obs
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )
    out = resample_locf(df).collect()
    per_key: dict[str, list] = {}
    for r in out:
        per_key.setdefault(r.event_type, []).append(r)
    seen_hours = {}
    for k, h, _v in obs:
        seen_hours.setdefault(k, set()).add(h)
    assert sum(r.n_obs for r in out) == len(obs)
    for k, rows_k in per_key.items():
        hours = sorted(r.bucket_start for r in rows_k)
        span = int((hours[-1] - hours[0]).total_seconds() // 3600)
        assert len(rows_k) == span + 1  # dense grid, no missing buckets
        prev_fill = None
        for r in sorted(rows_k, key=lambda r: r.bucket_start):
            assert r.filled_avg is not None
            if r.n_obs == 0:
                assert r.bucket_avg is None and r.filled_avg == prev_fill
            else:
                assert r.filled_avg == r.bucket_avg
            prev_fill = r.filled_avg


@given(docs=st.lists(
    st.text(alphabet="ab @.:/0123456789xyz\t\n", min_size=0, max_size=80),
    min_size=1, max_size=15,
))
@_prop_settings
def test_normalize_text_output_is_clean(spark, docs):
    """For ANY input: no control chars, no double spaces, no leading/
    trailing space, no surviving email/URL shapes; idempotent."""
    import re

    from energydatalake_spark.text.normalize_text import normalize_text

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    out = {r.doc_id: r.text_norm for r in normalize_text(df).collect()}
    twice = normalize_text(
        normalize_text(df).select("doc_id", F.col("text_norm").alias("text"))
    )
    out2 = {r.doc_id: r.text_norm for r in twice.collect()}
    for i, t in out.items():
        assert "  " not in t and t == t.strip()
        assert not re.search(r"[\x00-\x08\x0b\x0c\x0e-\x1f\t\n\r]", t)
        assert not re.search(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", t)
        assert out2[i] == t  # idempotent


# ---------------------------------------------------------------- relevance

WORD = st.sampled_from(["a", "b", "c", "dd", "eee"])
DOC = st.lists(WORD, min_size=0, max_size=12).map(" ".join)


def _py_bigram_lm(texts):
    """Pure-Python twin of bigram_lm_scores: add-one-smoothed corpus
    bigram model, per-doc mean of micro-nat-quantized log-probs."""
    import math
    from collections import Counter

    bg = {}
    c2: Counter = Counter()
    vocab = set()
    for i, t in enumerate(texts):
        toks = t.split(" ")
        pairs = list(zip(toks, toks[1:])) if len(toks) >= 2 else []
        bg[i] = pairs
        c2.update(pairs)
        vocab.update(w2 for _, w2 in pairs)
    c1: Counter = Counter()
    for (w1, _), n in c2.items():
        c1[w1] += n
    v = len(vocab)
    out = {}
    for i, pairs in bg.items():
        if not pairs:
            continue
        lps = [
            math.floor(math.log((c2[p] + 1) / (c1[p[0]] + v)) * 1e6 + 0.5)
            for p in pairs
        ]
        out[i] = (
            len(pairs),
            math.floor(sum(lps) / 1e6 / len(pairs) * 1e6 + 0.5) / 1e6,
        )
    return out


@given(st.lists(DOC, min_size=1, max_size=8))
@_prop_settings
def test_bigram_lm_matches_python_model(spark, texts):
    from energydatalake_spark.text.relevance import bigram_lm_scores

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in bigram_lm_scores(df).collect()
    }
    assert got == _py_bigram_lm(texts)


def _py_tfidf_topk(texts, k):
    import math
    from collections import Counter

    tf = {i: Counter(t.split(" ")) for i, t in enumerate(texts)}
    df_counts: Counter = Counter()
    for c in tf.values():
        df_counts.update(set(c))
    n = len(texts)
    out = {}
    for i, c in tf.items():
        scored = [
            (
                math.floor(cnt * math.log(n / df_counts[w]) * 1e6 + 0.5) / 1e6,
                w,
                cnt,
            )
            for w, cnt in c.items()
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        out[i] = [
            (w, cnt, df_counts[w], s, r + 1)
            for r, (s, w, cnt) in enumerate(scored[:k])
        ]
    return out


@given(st.lists(DOC.filter(bool), min_size=1, max_size=8))
@_prop_settings
def test_tfidf_matches_python_model(spark, texts):
    from energydatalake_spark.text.relevance import tfidf_topk

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {}
    for r in tfidf_topk(df, k=3).collect():
        got.setdefault(r.doc_id, []).append(
            (r.term, r.tf, r.df, r.tfidf, r.rank)
        )
    for i in got:
        got[i].sort(key=lambda x: x[4])
    assert got == _py_tfidf_topk(texts, 3)


def _py_boilerplate(texts, n=3, df_max=2):
    out = {}
    sh = {}
    for i, t in enumerate(texts):
        toks = t.split(" ")
        grams = {
            " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
        } if len(toks) >= n else set()
        if grams:
            sh[i] = grams
    from collections import Counter

    dfc: Counter = Counter()
    for grams in sh.values():
        dfc.update(grams)
    for i, grams in sh.items():
        nb = sum(1 for g in grams if dfc[g] > df_max)
        out[i] = (len(grams), nb, 2 * nb <= len(grams))
    return out


@given(st.lists(st.lists(WORD, min_size=0, max_size=8).map(" ".join), min_size=1, max_size=10))
@_prop_settings
def test_boilerplate_filter_matches_python_model(spark, tmp_path_factory, texts):
    from energydatalake_spark.plans.llm_ops import BOILER_DF, BOILER_N, q_boilerplate_filter

    tmp = tmp_path_factory.mktemp("bp")
    rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    got = {
        r.doc_id: (r.n_shingles, r.n_boiler, r.keep)
        for r in q_boilerplate_filter(spark, str(tmp)).collect()
    }
    assert got == _py_boilerplate(texts, n=BOILER_N, df_max=BOILER_DF)


# ------------------------------------------------------------- minhash LSH

def _py_minhash_pairs(texts, n=3, bands=16, rows=2, threshold=0.5):
    """Independent pure-Python MinHash+LSH twin — same definition
    (md5-shingle hash, multiply-shift permutations, banded buckets,
    exact-Jaccard verify of candidates) implemented with sets and
    hashlib instead of DataFrames, so it shares NO execution machinery
    with the Spark pipeline or its SQL oracle."""
    import hashlib
    from collections import defaultdict

    from energydatalake_spark.text.dedup import PERM_MASK, _perm_constants

    k = bands * rows
    a, b = _perm_constants(k)
    sh_sets = {}
    for i, t in texts.items():
        toks = t.split(" ")
        if len(toks) >= n:
            s = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
            if s:
                sh_sets[i] = s

    def h0(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    sigs = {
        i: [
            min((a[j] * x + b[j]) & PERM_MASK for x in map(h0, s))
            for j in range(k)
        ]
        for i, s in sh_sets.items()
    }
    buckets = defaultdict(list)
    for i, sig in sigs.items():
        for bnd in range(bands):
            key_src = ",".join(
                str(v) for v in sig[bnd * rows : (bnd + 1) * rows]
            )
            buckets[(bnd, hashlib.md5(key_src.encode()).hexdigest())].append(i)
    cands = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cands.add((ids[x], ids[y]))
    out = {}
    # Signature-agreement prefilter (r11): same floor(k*t/2) cutoff as
    # the engine, computed here from this model's own signatures.
    agree_min = int(k * threshold / 2)
    for ia, ib in cands:
        agree = sum(x == y for x, y in zip(sigs[ia], sigs[ib]))
        if agree < agree_min:
            continue
        A, B = sh_sets[ia], sh_sets[ib]
        j = len(A & B) / (len(A) + len(B) - len(A & B))
        if j >= threshold:
            out[(ia, ib)] = j
    return out


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=3, max_size=10),
        min_size=2,
        max_size=8,
    ),
    st.data(),
)
@_prop_settings
def test_minhash_pairs_matches_python_model(spark, texts_toks, data):
    """The distributed MinHash pipeline must equal the in-memory model
    on corpora seeded with genuine near-duplicates (a mutated copy of
    an existing doc), not just random noise."""
    from energydatalake_spark.text.dedup import minhash_pairs

    texts = {i: " ".join(t) for i, t in enumerate(texts_toks)}
    # seed a near-dup: copy doc 0 and mutate one token
    base = texts_toks[0][:]
    pos = data.draw(st.integers(0, len(base) - 1))
    base[pos] = data.draw(st.sampled_from(["a", "z"]))
    texts[len(texts)] = " ".join(base)
    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_pairs(df, n=3, bands=16, rows=2, threshold=0.5).collect()
    }
    want = _py_minhash_pairs(texts)
    assert set(got) == set(want)
    for pair in got:
        assert abs(got[pair] - want[pair]) < 1e-12


def _py_simhash_pairs(texts, bits=32, max_hamming=3, band_bits=8, n=None):
    """Independent SimHash twin: per-feature ±1 bit votes — the token
    MULTISET when ``n`` is None, DISTINCT word n-gram shingles (one
    vote each, Manku form) otherwise — sign → fingerprint bit,
    pigeonhole banding, Hamming verify. ONE model for both feature
    modes so the banding/verify logic can never fork."""
    import hashlib

    hex_chars = 8 if bits <= 32 else 15

    def h(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:hex_chars], 16)

    fps = {}
    for i, t in texts.items():
        toks = t.split(" ")
        if n is None:
            feats = toks  # multiset: every occurrence votes
        else:
            if len(toks) < n:
                continue  # no features → no fingerprint row
            feats = {
                " ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)
            }
        votes = [0] * bits
        for tok in feats:
            hv = h(tok)
            for j in range(bits):
                votes[j] += 1 if (hv >> j) & 1 else -1
        fps[i] = sum(1 << j for j in range(bits) if votes[j] > 0)
    nb = bits // band_bits
    mask = (1 << band_bits) - 1
    from collections import defaultdict

    buckets = defaultdict(list)
    for i, fp in fps.items():
        for b in range(nb):
            buckets[(b, (fp >> (b * band_bits)) & mask)].append(i)
    cands = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cands.add((ids[x], ids[y]))
    out = {}
    for ia, ib in cands:
        d = bin(fps[ia] ^ fps[ib]).count("1")
        if d <= max_hamming:
            out[(ia, ib)] = d
    return out, fps


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=8),
        min_size=2,
        max_size=6,
    )
)
@_prop_settings
def test_simhash_matches_python_model(spark, texts_toks):
    from energydatalake_spark.text.dedup import simhash, simhash_pairs

    texts = {i: " ".join(t) for i, t in enumerate(texts_toks)}
    # seed an exact copy — Hamming 0, must always pair
    texts[len(texts)] = texts[0]
    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    want_pairs, want_fps = _py_simhash_pairs(texts)
    got_fps = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert got_fps == want_fps
    got_pairs = {
        (r.id_a, r.id_b): r.hamming for r in simhash_pairs(df).collect()
    }
    assert got_pairs == want_pairs


def _py_ngram_jaccard(texts, n=3, threshold=0.3, max_doc_freq=2):
    """Independent n-gram Jaccard twin with the doc-frequency candidate
    cap: a pair is a candidate iff it shares ≥1 shingle whose corpus
    doc-frequency ≤ cap; its Jaccard is then exact over the FULL sets."""
    from collections import Counter

    sh = {}
    for i, t in texts.items():
        toks = t.split(" ")
        if len(toks) >= n:
            s = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
            if s:
                sh[i] = s
    dfc = Counter(g for s in sh.values() for g in s)
    rare = {g for g, c in dfc.items() if c <= max_doc_freq}
    ids = sorted(sh)
    out = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not (sh[a] & sh[b] & rare):
                continue
            j = len(sh[a] & sh[b]) / (len(sh[a]) + len(sh[b]) - len(sh[a] & sh[b]))
            if j >= threshold:
                out[(a, b)] = j
    return out


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=3, max_size=8),
        min_size=2,
        max_size=7,
    )
)
@_prop_settings
def test_ngram_jaccard_matches_python_model(spark, texts_toks):
    """Tiny vocab makes shared shingles (and >cap boilerplate
    shingles) common, exercising both the rare-join and the common
    top-up paths of the doc-frequency-capped plan."""
    from energydatalake_spark.text.dedup import ngram_jaccard_pairs

    texts = {i: " ".join(t) for i, t in enumerate(texts_toks)}
    texts[len(texts)] = texts[0]  # exact dup: jaccard 1.0 always pairs
    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, n=3, threshold=0.3, max_doc_freq=2
        ).collect()
    }
    want = _py_ngram_jaccard(texts)
    assert set(got) == set(want)
    for pair in got:
        assert abs(got[pair] - want[pair]) < 1e-12


def _py_embedding_lsh(vecs, threshold, n_planes, dim, n_tables, seed=42):
    """Independent twin of embedding_near_dup_lsh: same seeded
    hyperplanes, but signature/candidate/rerank computed with plain
    Python loops. Dot products use the SAME sequential fold order as
    the engine's aggregate fold, so signs and cosines match
    bit-for-bit."""
    import math

    from energydatalake_spark.similarity.search import _hyperplanes

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    norms = {}
    for i, v in vecs.items():
        nm = math.sqrt(fold_dot(v, v))
        norms[i] = 1.0 if nm == 0 else nm
    sigs = {i: [] for i in vecs}
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=seed + t)
        for i, v in vecs.items():
            key = 0
            for pi, p in enumerate(planes):
                if fold_dot(v, p) >= 0:
                    key |= 1 << pi
            sigs[i].append(key)
    ids = sorted(vecs)
    out = {}
    for xi in range(len(ids)):
        for yi in range(xi + 1, len(ids)):
            x, y = ids[xi], ids[yi]
            # candidate iff any table's signatures are within Hamming 1
            if any(
                bin(bx ^ by).count("1") <= 1
                for bx, by in zip(sigs[x], sigs[y])
            ):
                cos = fold_dot(vecs[x], vecs[y]) / (norms[x] * norms[y])
                if cos >= threshold:
                    out[(x, y)] = cos
    return out


@given(st.integers(0, 2**31 - 1))
@_prop_settings
def test_embedding_lsh_matches_python_model(spark, rng_seed):
    import numpy as np

    from energydatalake_spark.similarity.neardup import embedding_near_dup_lsh

    dim, n_planes, n_tables, thr = 8, 4, 2, 0.3
    rng = np.random.default_rng(rng_seed)
    m = rng.normal(size=(12, dim)).astype("float32")
    m[11] = m[0] + rng.normal(scale=0.01, size=dim).astype("float32")  # near-dup
    vecs = {i: [float(x) for x in m[i]] for i in range(12)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<float>"
    )
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_lsh(
            df, threshold=thr, n_planes=n_planes, dim=dim, n_tables=n_tables
        ).collect()
    }
    want = _py_embedding_lsh(vecs, thr, n_planes, dim, n_tables)
    assert set(got) == set(want)
    for pair in got:
        assert abs(got[pair] - want[pair]) < 1e-12


def _py_line_dedup(texts, max_df):
    """Independent model of text.dedup.line_dedup: corpus line
    doc-frequency (distinct docs), drop lines with df > max_df, keep
    order, reassemble."""
    from collections import Counter

    split = {i: t.split("\n") for i, t in enumerate(texts)}
    dfc: Counter = Counter()
    for lines in split.values():
        dfc.update(set(lines))
    out = {}
    for i, lines in split.items():
        kept = [ln for ln in lines if dfc[ln] <= max_df]
        out[i] = (len(lines), len(kept), "\n".join(kept))
    return out


@given(
    st.lists(
        st.lists(
            st.sampled_from(["", "a", "bb", "header x", "footer y", "zz 1"]),
            min_size=1,
            max_size=6,
        ).map("\n".join),
        min_size=1,
        max_size=10,
    ),
    st.integers(1, 3),
)
@_prop_settings
def test_line_dedup_matches_python_model(spark, texts, max_df):
    """Tiny line alphabet makes cross-document repeats (and the
    all-lines-dropped edge) common; the model recomputes doc-frequency
    and reassembly independently of the Spark/SQL machinery."""
    from energydatalake_spark.text.dedup import line_dedup

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_lines, r.n_kept, r.text_kept)
        for r in line_dedup(df, max_df=max_df).collect()
    }
    assert got == _py_line_dedup(texts, max_df)


def _py_substring_dedup(texts, k, max_df):
    """Independent model of text.dedup.substring_dedup: tokenize on
    whitespace, mark every k-token window whose gram appears in more
    than max_df documents, remove covered tokens, reassemble in order.
    Documents with zero tokens keep their row as (0, 0, '')."""
    import re as _re
    from collections import defaultdict

    tk = {
        i: [x for x in _re.split(r"\s+", t.strip()) if x]
        for i, t in enumerate(texts)
    }
    docs_of = defaultdict(set)
    for d, toks in tk.items():
        for p in range(len(toks) - k + 1):
            docs_of[" ".join(toks[p : p + k])].add(d)
    dup = {g for g, s in docs_of.items() if len(s) > max_df}
    out = {}
    for d, toks in tk.items():
        cov = [False] * len(toks)
        for p in range(len(toks) - k + 1):
            if " ".join(toks[p : p + k]) in dup:
                for i in range(p, p + k):
                    cov[i] = True
        kept = [t for t, c in zip(toks, cov) if not c]
        out[d] = (len(toks), len(kept), " ".join(kept))
    return out


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "bb", "c", "dd", "e"]),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(2, 4),
    st.integers(1, 2),
)
@_prop_settings
def test_substring_dedup_matches_python_model(spark, texts, k, max_df):
    """Five-word alphabet makes cross-document k-gram repeats (and
    overlapping matched windows that must merge into one removed span)
    common; the model recomputes coverage independently of the
    Spark window/join machinery."""
    from energydatalake_spark.text.dedup import substring_dedup

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_kept, r.text_kept)
        for r in substring_dedup(df, k=k, max_df=max_df).collect()
    }
    assert got == _py_substring_dedup(texts, k, max_df)


def test_substring_dedup_mixed_whitespace(spark):
    """The tokenizer contract is ANY-whitespace split (regex \\s+):
    tabs, newlines, and runs of spaces must tokenize — and therefore
    dedup — exactly like single spaces, and reassembly normalizes to
    single-space joins. Checked against the python model."""
    from energydatalake_spark.text.dedup import substring_dedup

    texts = [
        "a\tb  c\nd e",       # same token stream as doc 1, odd whitespace
        "a b c d e",
        "  leading and trailing  ",
        "x\n\ny\tz",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_kept, r.text_kept)
        for r in substring_dedup(df, k=3).collect()
    }
    assert got == _py_substring_dedup(texts, 3, 1)
    # docs 0 and 1 are token-identical -> both fully covered at k=3
    assert got[0] == (5, 0, "") and got[1] == (5, 0, "")


def _py_semantic_dedup(rows, cents, threshold):
    """Independent model of similarity.neardup.embedding_semantic_dedup:
    nearest-centroid assignment by cosine with the strict-> first-max /
    ascending-cell tie-break (scalar float path mirrors the JVM fold's
    op order exactly), per-cell union-find over pairwise cosine >=
    threshold, cluster = min member id, zero-norm vectors = their own
    singletons."""
    import math

    import numpy as np

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    out = {}
    cells = {}
    cents = sorted(cents)
    for vid, v in rows:
        nm = math.sqrt(dot(v, v))
        if nm == 0.0:
            out[vid] = (vid, True)
            continue
        best_c, best_cell = -math.inf, -1
        for cid, cv in cents:
            cnm = math.sqrt(dot(cv, cv))
            c = dot(v, cv) / (nm * cnm)
            if c > best_c:
                best_c, best_cell = c, cid
        cells.setdefault(best_cell, []).append((vid, v))
    for members in cells.values():
        members.sort()
        ids = [m[0] for m in members]
        m = np.asarray([np.asarray(v, dtype=np.float64) for _, v in members])
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        mn = m / norms[:, None]
        sim = mn @ mn.T
        parent = list(range(len(ids)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if sim[i, j] >= threshold:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
        for i in range(len(ids)):
            out[ids[i]] = (ids[find(i)], find(i) == i)
    return out


@given(
    st.lists(
        st.lists(st.integers(-3, 3), min_size=3, max_size=3),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 2),
    st.data(),
)
@_prop_settings
def test_embedding_semantic_dedup_matches_python_model(spark, vecs, n_cells, data):
    """Small integer 3-dim vectors make exact cosine ties (orthogonal /
    parallel / zero vectors) common, exercising the argmax tie-break
    and the zero-norm singleton path; threshold 0.37 keeps float
    comparisons away from representable coincidences. The model shares
    nothing with the Spark plan but the op-order conventions."""
    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup

    rows = list(enumerate(vecs))
    cents = [
        (i, [float(x) for x in data.draw(
            st.lists(st.integers(-3, 3), min_size=3, max_size=3)
            .filter(lambda v: any(v))
        )])
        for i in range(n_cells)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<double>",
    )
    cdf = spark.createDataFrame(cents, "vec_id int, embedding array<double>")
    got = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in embedding_semantic_dedup(
            df, threshold=0.37, n_cells=n_cells, centroids=cdf
        ).collect()
    }
    assert got == _py_semantic_dedup(rows, cents, 0.37)


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=8),
        min_size=2,
        max_size=6,
    )
)
@_prop_settings
def test_simhash_shingle_matches_python_model(spark, texts_toks):
    from energydatalake_spark.text.dedup import simhash, simhash_pairs

    texts = {i: " ".join(t) for i, t in enumerate(texts_toks)}
    texts[len(texts)] = texts[0]  # exact copy — Hamming 0 when featured
    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    want_pairs, want_fps = _py_simhash_pairs(
        texts, bits=60, max_hamming=3, band_bits=15, n=3
    )
    got_fps = {
        r.doc_id: r.simhash for r in simhash(df, bits=60, n=3).collect()
    }
    assert got_fps == want_fps
    got_pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(
            df, bits=60, max_hamming=3, band_bits=15, n=3
        ).collect()
    }
    assert got_pairs == want_pairs
