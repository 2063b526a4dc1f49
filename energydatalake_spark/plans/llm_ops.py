"""LLM-data-pipeline queries + generated DuckDB oracle SQL.

The portable hash primitive — first 8 hex chars of md5 cast to bigint —
is identical in Spark (``conv(substr(md5(x),1,8),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,8))::BIGINT``), which lets even MinHash LSH
and SimHash carry full value-hash oracles instead of rows-only checks.

Floats follow the registry's determinism rules: ratios are divisions of
identical integers (bit-exact), cosines are rounded at 1e-6 where the
cross-engine summation drift is ~1e-15.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from energydatalake_spark.io.readers import read_table
from energydatalake_spark.plans.registry import _r
from energydatalake_spark.similarity.search import cosine_topk, lsh_topk
from energydatalake_spark.text.dedup import (
    exact_dedup,
    line_dedup,
    minhash_pairs,
    ngram_jaccard_pairs,
    shared_shingle_frame,
    simhash,
    simhash_pairs,
    substring_dedup,
)
from energydatalake_spark.multimodal.media import attach_fake_media, decode_media
from energydatalake_spark.similarity.neardup import (
    embedding_near_dup,
    embedding_near_dup_lsh,
)
from energydatalake_spark.text.stats import (
    BPE_PATTERN,
    STOPWORDS,
    SUBWORD_CHUNK,
    language_id,
    fingerprints,
    text_stats,
    token_counts,
)

# ---------------------------------------------------------------- text stats

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(read_table(spark, sf_dir, "documents"))


def _sql_in_list(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


#: The composite quality score as a SQL fragment over the m-CTE column
#: names (nc/nt/nu/nstop/npunct) — the SINGLE source for every SQL
#: twin that replays text_stats's Spark-side formula (text_stats,
#: source_profile, and the corpus-prep compositions via SQL_TEXT_STATS).
_SQL_QUALITY_EXPR = """least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.25
         + (1 - CAST(npunct AS DOUBLE) / nc) * 0.25
         + (CAST(nu AS DOUBLE) / nt) * 0.25
         + least((CAST(nstop AS DOUBLE) / nt) * 10.0, 1.0) * 0.25"""


def _sql_stats_m_cte(extra_cols: str = "doc_id") -> str:
    """The tokenize-and-count m CTE shared by the text_stats twins."""
    return f"""
WITH t AS (
  SELECT {extra_cols}, text, string_split(text, ' ') AS toks,
         length(text) AS nc
  FROM documents
), m AS (
  SELECT {extra_cols},
         nc,
         len(toks) AS nt,
         len(list_distinct(toks)) AS nu,
         len(list_filter(toks, x -> x IN ({_sql_in_list(STOPWORDS["en"])}))) AS nstop,
         nc - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS npunct
  FROM t
)"""


SQL_TEXT_STATS = f"""
{_sql_stats_m_cte()}
SELECT doc_id,
       CAST(nc AS BIGINT) AS n_chars,
       CAST(nt AS BIGINT) AS n_tokens,
       CAST(nu AS BIGINT) AS n_uniq_tokens,
       CAST(nstop AS BIGINT) AS n_stopwords,
       CAST(nu AS DOUBLE) / nt AS uniq_ratio,
       CASE WHEN nc > 0 THEN CAST(npunct AS DOUBLE) / nc END AS punct_ratio,
       CAST(nstop AS DOUBLE) / nt AS stop_ratio,
       CASE WHEN nc > 0 THEN {_SQL_QUALITY_EXPR} END AS quality_score
FROM m
"""

# ---------------------------------------------------------------- language id

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(read_table(spark, sf_dir, "documents"))


def _sql_lang_id() -> str:
    hit_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x IN ({_sql_in_list(ws)}))) AS hits_{lang}"
        for lang, ws in sorted(STOPWORDS.items())
    )
    langs = sorted(STOPWORDS)
    best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    case = " ".join(
        f"WHEN hits_{lg} = {best} THEN '{lg}'" for lg in langs
    )
    hits_out = ",\n       ".join(f"CAST(hits_{lg} AS BIGINT) AS hits_{lg}" for lg in langs)
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
h AS (
  SELECT doc_id,
         {hit_cols}
  FROM t
)
SELECT doc_id,
       {hits_out},
       CASE WHEN {best} <= 0 THEN 'und' {case} ELSE 'und' END AS pred_lang
FROM h
"""


SQL_LANG_ID = _sql_lang_id()

# ---------------------------------------------------------------- token count

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(read_table(spark, sf_dir, "documents"))


SQL_TOKEN_COUNT = f"""
WITH t AS (
  SELECT doc_id,
         string_split(text, ' ') AS ws,
         regexp_extract_all(text, '{BPE_PATTERN}') AS re_toks
  FROM documents
)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_ws_tokens,
       CAST(len(re_toks) AS BIGINT) AS n_re_tokens,
       CAST(len(list_distinct(re_toks)) AS BIGINT) AS n_uniq_re_tokens,
       CAST(COALESCE(list_sum(list_transform(re_toks,
              x -> CAST(ceil(length(x) / {SUBWORD_CHUNK}.0) AS BIGINT))), 0) AS BIGINT)
         AS n_subword_est
FROM t
"""

# ---------------------------------------------------------------- fingerprints

FP_N = 5


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(read_table(spark, sf_dir, "documents"), n=FP_N)


SQL_FINGERPRINTS = f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {FP_N} THEN
           list_distinct(list_transform(range(1, len(toks) - {FP_N} + 2),
                                        i -> array_to_string(toks[i:i+{FP_N - 1}], ' ')))
         ELSE [] END AS sh
  FROM t
)
SELECT t.doc_id,
       md5(t.text) AS md5_fp,
       CAST(list_min(list_transform(s.sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS BIGINT)
         AS min_shingle_fp
FROM t JOIN s USING (doc_id)
"""

# ---------------------------------------------------------------- exact dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(read_table(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""

# ---------------------------------------------------------------- minhash LSH

MH_N, MH_BANDS, MH_ROWS, MH_THRESHOLD = 3, 16, 2, 0.5

#: minhash_pairs / dedup_clusters arm the band-geometry circuit
#: breaker (text/dedup.py _auto_band_rows) above this documents count —
#: the same oracle-bound gating as ND_LSH_ORACLE_MAX_N / SEM_ORACLE_
#: MAX_N, keyed on documents: every driver-checked scale (500 docs at
#: sf0.01, 5,000 at sf0.1) keeps the static (bands=16, rows=2)
#: geometry, so the DuckDB mirror that replays it stays value-hash-
#: exact; beyond the bound a saturated shingle universe may escalate
#: rows and the mirror is the wrong oracle BY DESIGN (rows-only
#: checked via ORACLE_STATIC_BOUNDS).
MH_ORACLE_MAX_DOCS = 25_000
MH_AUTO_ROWS_MAX = 4


def _mh_auto_rows_max(sf_dir: str) -> int | None:
    n = _parquet_rows(sf_dir, "documents")
    return MH_AUTO_ROWS_MAX if n > MH_ORACLE_MAX_DOCS else None


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = minhash_pairs(
        read_table(spark, sf_dir, "documents"),
        n=MH_N,
        bands=MH_BANDS,
        rows=MH_ROWS,
        threshold=MH_THRESHOLD,
        auto_rows_max=_mh_auto_rows_max(sf_dir),
    )
    return out.select("id_a", "id_b", _r(F.col("jaccard"), 6).alias("jaccard"))


def _sql_minhash() -> str:
    from energydatalake_spark.text.dedup import (
        PERM_MASK,
        _perm_constants,
        min_sig_agree,
    )

    k = MH_BANDS * MH_ROWS
    perm_a, perm_b = _perm_constants(k)
    # Signature-agreement prefilter: same derived cutoff as the Spark
    # side (min_sig_agree docstring has the recall bound). The Spark
    # plan applies it map-side before its pair-dedup; a deterministic
    # per-pair predicate commutes with DISTINCT, so the mirror applies
    # it after — identical pair sets either way.
    agree_min = min_sig_agree(MH_BANDS, MH_ROWS, MH_THRESHOLD)
    agree_sum = " + ".join(
        f"(CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    mins = ",\n         ".join(
        f"MIN(({perm_a[i]} * h0 + {perm_b[i]}) & {PERM_MASK}) AS m{i}"
        for i in range(k)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(f"m{i}" for i in range(b * MH_ROWS, (b + 1) * MH_ROWS))
        + ")) AS bh FROM mh"
        for b in range(MH_BANDS)
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - {MH_N} + 2),
                                      i -> array_to_string(toks[i:i+{MH_N - 1}], ' '))) AS s
  FROM t WHERE len(toks) >= {MH_N}
),
-- Same two integer views of each shingle's md5 as the Spark plan:
-- h0 (32-bit) feeds the permutations, sh (60-bit) is the verify key.
ex AS (SELECT doc_id,
              ('0x' || substr(md5(unnest(s)), 1, 8))::BIGINT AS h0,
              ('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT AS shingle
       FROM sh),
mh AS (
  SELECT doc_id,
         {mins}
  FROM ex
  GROUP BY doc_id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
candf AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN mh x ON x.doc_id = c.id_a
  JOIN mh y ON y.doc_id = c.id_b
  WHERE {agree_sum} >= {agree_min}
),
sizes AS (SELECT doc_id, len(s) AS ns FROM sh),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS ni
  FROM candf c
  JOIN ex e1 ON e1.doc_id = c.id_a
  JOIN ex e2 ON e2.doc_id = c.id_b AND e2.shingle = e1.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       FLOOR(CAST(i.ni AS DOUBLE) / (sa.ns + sb.ns - i.ni) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.ni AS DOUBLE) / (sa.ns + sb.ns - i.ni) >= {MH_THRESHOLD}
"""


SQL_MINHASH_PAIRS = _sql_minhash()

# ------------------------------------------------------------- ngram jaccard

NJ_N, NJ_THRESHOLD = 3, 0.5
#: Eval window for the exact quadratic tiers (r9, sf1 bench α = 1.96):
#: ngram_jaccard and dedup_recall's ground truth run over the FIRST
#: EVAL_DOC_WINDOW docs — the ann_recall `vec_id < TOPK_NQ` pattern.
#: The exact tier's own docstring already says "run it on a sample at
#: production scale — the verdict is a rate, not a row set"; the
#: window IS that sample, deterministic and static-SQL-expressible.
#: Covers every doc at the driver's sf0.01 gate; bounds the O(n²)
#: work to a constant from sf~0.05 up. Because BOTH tiers' candidate
#: generation is pairwise (a shared shingle / a band collision between
#: a and b involves no third document), restricting the input docs is
#: exactly equivalent to post-filtering the full pair set.
#:
#: The window is MIN(doc_id)-relative (r10): an absolute
#: ``doc_id < 2500`` would silently select zero docs on a corpus
#: whose ids don't start near 0. Spark expresses the bound as a lazy
#: scalar subquery (``DataFrame.scalar()``), DuckDB as
#: ``(SELECT MIN(doc_id) ...)`` — no driver-side job either way.
EVAL_DOC_WINDOW = 2500


def _eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First EVAL_DOC_WINDOW docs by id, robust to non-zero-based ids."""
    docs = read_table(spark, sf_dir, "documents")
    lo = docs.agg(F.min("doc_id")).scalar()
    return docs.filter(F.col("doc_id") < lo + F.lit(EVAL_DOC_WINDOW))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_doc_freq=None: the oracle SQL models the UNCAPPED operator, so
    # the oracled path must stay exact even if a shingle's doc frequency
    # ever exceeds the library default cap (the capped variant is the
    # production guard, exercised in pytest).
    out = ngram_jaccard_pairs(
        _eval_docs(spark, sf_dir),
        n=NJ_N,
        threshold=NJ_THRESHOLD,
        max_doc_freq=None,
    )
    return out.select("id_a", "id_b", _r(F.col("jaccard"), 6).alias("jaccard"))


SQL_NGRAM_JACCARD = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
           WHERE doc_id < (SELECT MIN(doc_id) FROM documents) + {EVAL_DOC_WINDOW}),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - {NJ_N} + 2),
                                      i -> array_to_string(toks[i:i+{NJ_N - 1}], ' '))) AS s
  FROM t WHERE len(toks) >= {NJ_N}
),
-- Same 60-bit shingle hash as the Spark plan (shuffle-narrowing
-- optimization in ngram_jaccard_pairs): both engines intersect hashes,
-- so they agree bit-for-bit even on a collision.
ex AS (SELECT doc_id, ('0x' || substr(md5(unnest(s)), 1, 15))::BIGINT AS shingle
       FROM sh),
sizes AS (SELECT doc_id, len(s) AS ns FROM sh),
inter AS (
  SELECT e1.doc_id AS id_a, e2.doc_id AS id_b, COUNT(*) AS ni
  FROM ex e1 JOIN ex e2 ON e1.shingle = e2.shingle AND e1.doc_id < e2.doc_id
  GROUP BY e1.doc_id, e2.doc_id
)
SELECT i.id_a, i.id_b,
       FLOOR(CAST(i.ni AS DOUBLE) / (sa.ns + sb.ns - i.ni) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(i.ni AS DOUBLE) / (sa.ns + sb.ns - i.ni) >= {NJ_THRESHOLD}
"""

def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-tier quality evaluation — the near-dup twin of
    `ann_recall`: recall/precision of the banded MinHash-LSH pair
    finder against the exact n-gram-Jaccard ground truth at the same
    (n, threshold). Precision is 1 by construction (minhash_pairs
    verifies candidates with exact Jaccard) — the metric that matters
    is recall: the fraction of true ≥0.5-Jaccard pairs whose
    signatures collide in at least one band. This is the measurement
    that licenses replacing the quadratic exact tier with the banded
    tier at 100 TB.

    Scale shape: the comparison joins two pairs-sized frames and
    reduces to ONE row; the ground-truth side is the quadratic exact
    tier and is an EVAL-scale op by nature (run it on a sample at
    production scale — the verdict is a rate, not a row set)."""
    # Both tiers run over the shared EVAL_DOC_WINDOW (r9): the ground
    # truth is the exact quadratic tier, and the eval's verdict is a
    # rate — windowing bounds the O(n²) work to a constant while the
    # pairwise candidate generation makes the restriction exactly
    # equivalent to post-filtering full-corpus pairs.
    docs = _eval_docs(spark, sf_dir)
    # ONE shared shingle explosion feeds BOTH tiers (r20, VERDICT r19
    # #2): NJ_N == MH_N, and the exact tier's 60-bit shingle hash is
    # the `sh` view of the banded tier's per-shingle md5 — so the
    # scan → shingle → explode → md5 chain materializes once instead
    # of twice (two persisted explodes of identical rows before).
    sh = shared_shingle_frame(docs, n=NJ_N)
    # ONE full-outer join computes all three counts (r20, VERDICT r19
    # #2): both pair frames are unique on (id_a, id_b) by construction
    # (each ends in a groupBy on the pair), so the join is 1:1 and
    #   n_truth = rows with a truth side, n_lsh = rows with an LSH
    #   side, n_hits = rows with both
    # — the same numbers the old semi-join + three counts produced.
    # Each pair pipeline now feeds exactly ONE consumer, so the two
    # pairs-sized localCheckpoints (and their ~1.2 s of per-build
    # physical planning + codegen — Dataset.checkpoint plans eagerly
    # even with eager=False) are gone with nothing left to replay.
    truth = ngram_jaccard_pairs(
        docs, n=NJ_N, threshold=NJ_THRESHOLD, max_doc_freq=None,
        shingle_frame=sh,
    ).select("id_a", "id_b", F.lit(1).alias("__t"))
    approx = minhash_pairs(
        docs, n=MH_N, bands=MH_BANDS, rows=MH_ROWS, threshold=MH_THRESHOLD,
        shingle_frame=sh,
    ).select("id_a", "id_b", F.lit(1).alias("__a"))
    both = truth.join(approx, ["id_a", "id_b"], "full_outer")
    counts = both.agg(
        F.count("__t").alias("n_truth"),
        F.count("__a").alias("n_lsh"),
        F.count(F.when(F.col("__t").isNotNull() & F.col("__a").isNotNull(),
                       F.lit(1))).alias("n_hits"),
    )
    return counts.select(
        "n_truth",
        "n_lsh",
        "n_hits",
        F.when(
            F.col("n_truth") > 0,
            _r(F.col("n_hits") / F.col("n_truth"), 6),
        ).alias("recall"),
        F.when(
            F.col("n_lsh") > 0,
            _r(F.col("n_hits") / F.col("n_lsh"), 6),
        ).alias("precision"),
    )


def _sql_dedup_recall() -> str:
    # truth inherits the EVAL_DOC_WINDOW from SQL_NGRAM_JACCARD; the
    # minhash side is windowed by post-filtering its pairs — exactly
    # equivalent (signatures are per-doc, collisions pairwise).
    return f"""
WITH truth AS ({SQL_NGRAM_JACCARD}),
approx AS (
  SELECT * FROM ({SQL_MINHASH_PAIRS})
  WHERE id_a < (SELECT MIN(doc_id) FROM documents) + {EVAL_DOC_WINDOW}
    AND id_b < (SELECT MIN(doc_id) FROM documents) + {EVAL_DOC_WINDOW}
),
hits AS (
  SELECT t.id_a, t.id_b FROM truth t
  WHERE EXISTS (SELECT 1 FROM approx a
                WHERE a.id_a = t.id_a AND a.id_b = t.id_b)
),
c AS (SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
             (SELECT COUNT(*) FROM approx) AS n_lsh,
             (SELECT COUNT(*) FROM hits) AS n_hits)
SELECT n_truth, n_lsh, n_hits,
       CASE WHEN n_truth > 0 THEN
         FLOOR(CAST(n_hits AS DOUBLE) / n_truth * 1000000.0 + 0.5) / 1000000.0
       END AS recall,
       CASE WHEN n_lsh > 0 THEN
         FLOOR(CAST(n_hits AS DOUBLE) / n_lsh * 1000000.0 + 0.5) / 1000000.0
       END AS precision
FROM c
"""


# -------------------------------------------------------------------- simhash

SH_BITS = 32
#: r13: both simhash queries moved from unigram-multiset to DISTINCT
#: word-3-gram shingle features (Manku et al.'s production form, same
#: shingle rule as minhash). Unigram votes are dominated by the token
#: frequency head, so on zipf corpora fingerprints collapse and the
#: hamming-≤3 PAIR SET is quadratic — the r13 Heaps-probe measured
#: ~93 partners/doc at 5k docs and the x100 run died collecting a
#: >1 GiB result. Shingle features restore discrimination (the head
#: explodes into diverse phrases); see text.dedup.simhash.
SH_N = 3


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(read_table(spark, sf_dir, "documents"), bits=SH_BITS, n=SH_N)


def _sql_simhash(bits: int = SH_BITS, n: int = SH_N) -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    recombine = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    # ≤32 bits: md5's first 8 hex chars; 33-60: 15 hex chars — both
    # mirror text.dedup.simhash's tok_hash choice exactly. The shingle
    # CTE is the same distinct word-n-gram rule as the minhash mirror
    # (1-based inclusive DuckDB slices: toks[i:i+n-1] is n tokens);
    # docs shorter than n words have no features in either engine.
    hex_chars = 8 if bits <= 32 else 15
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - {n} + 2),
                                      i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS sh
  FROM t WHERE len(toks) >= {n}
),
h AS (SELECT doc_id, ('0x' || substr(md5(unnest(sh)), 1, {hex_chars}))::BIGINT AS hv FROM s),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({recombine} AS BIGINT) AS simhash FROM votes
"""


SQL_SIMHASH = _sql_simhash()


SP_MAX_HAMMING = 3
#: r9 rescale (sf1 bench α = 1.33 with the old 32-bit/8-bit-band
#: parameterization — n/256 docs per bucket is quadratic at the bench
#: decade): 60-bit fingerprint, 15-bit bands → 4 bands (pigeonhole
#: exact for Hamming ≤ 3), 32k buckets/band — occupancy ~1.5 at 50k
#: docs. See text.dedup.simhash_pairs' sizing note (Manku et al.).
SHP_BITS, SHP_BAND_BITS = 60, 15


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(
        read_table(spark, sf_dir, "documents"),
        bits=SHP_BITS,
        max_hamming=SP_MAX_HAMMING,
        band_bits=SHP_BAND_BITS,
        n=SH_N,
    )


def _sql_simhash_pairs() -> str:
    """Exact oracle for the pigeonhole-banded pairs: with max_hamming <
    #bands, every pair within the distance bound MUST collide on at
    least one band, so the banded Spark plan returns exactly the
    brute-force Hamming-ball result — which IS expressible as all-pairs
    SQL over the (already oracle-checked) simhash values."""
    sh = _sql_simhash(bits=SHP_BITS).strip()
    return f"""
WITH sh AS ({sh})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SP_MAX_HAMMING}
"""


SQL_SIMHASH_PAIRS = _sql_simhash_pairs()


# ------------------------------------------------------------- similarity

# NOTE: the ANN eval fixtures pick "the first TOPK_NQ vectors" with an
# absolute `vec_id < TOPK_NQ` predicate — this assumes embeddings ids
# are dense from 0 (true for the shipped test data and both
# generators, pinned in tests). Unlike EVAL_DOC_WINDOW this is a query
# FIXTURE (which vectors play the role of queries), not a sampling
# window, so the absolute form stays.
TOPK_K, TOPK_NQ = 10, 5


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=TOPK_K)
    return out.select(
        "query_id", "vec_id", _r(F.col("cosine"), 6).alias("cosine"), "rank"
    )


SQL_SIMILARITY_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {TOPK_NQ}
),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
qn AS (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q),
cn AS (SELECT vec_id, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM c),
scored AS (
  SELECT query_id, vec_id, list_dot_product(qv, cv) / (qnorm * cnorm) AS cos_raw
  FROM qn, cn WHERE vec_id != query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_raw,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id,
       FLOOR(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cosine,
       rank
FROM ranked WHERE rank <= {TOPK_K}
"""


LSH_PLANES, LSH_DIM = 4, 64


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries, k=TOPK_K, n_planes=LSH_PLANES, dim=LSH_DIM)
    return out.select(
        "query_id", "vec_id", _r(F.col("cosine"), 6).alias("cosine"), "rank"
    )


def _sql_similarity_lsh() -> str:
    """The hyperplanes are seeded driver literals (seed 42) — embed the
    same 4×64 doubles in the SQL (repr round-trips bit-exactly through
    DuckDB's literal parser) and replicate sign-bucketing, Hamming-1
    multiprobe, and exact rerank. Sign tests are FP-robust here: |dot|
    for 64-d standard-normal planes is O(1), engine summation drift is
    ~1e-15."""
    from energydatalake_spark.similarity.search import _hyperplanes

    planes = _hyperplanes(LSH_DIM, LSH_PLANES)

    def bucket_expr(vec: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vec}, "
            f"[{', '.join(repr(x) for x in p)}]::DOUBLE[]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    probe_list = ", ".join(
        ["qbucket"] + [f"xor(qbucket, {1 << i})" for i in range(LSH_PLANES)]
    )
    return f"""
WITH m AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
  FROM embeddings
),
cb AS (SELECT vec_id, v, nm, {bucket_expr('v')} AS bucket FROM m),
qb AS (
  SELECT vec_id AS query_id, v AS qv, nm AS qnm, {bucket_expr('v')} AS qbucket
  FROM m WHERE vec_id < {TOPK_NQ}
),
probes AS (
  SELECT query_id, unnest([{probe_list}]) AS bucket FROM qb
),
cand AS (
  SELECT DISTINCT p.query_id, c.vec_id
  FROM probes p JOIN cb c USING (bucket)
  WHERE c.vec_id != p.query_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         list_dot_product(q.qv, c.v) / (q.qnm * c.nm) AS cos_raw
  FROM cand
  JOIN qb q ON q.query_id = cand.query_id
  JOIN m c ON c.vec_id = cand.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cos_raw,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id,
       FLOOR(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cosine,
       rank
FROM ranked WHERE rank <= {TOPK_K}
"""


SQL_SIMILARITY_LSH = _sql_similarity_lsh()


IVF_CELLS, IVF_PROBE = 16, 4


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a deterministic codebook (first IVF_CELLS vectors),
    so the whole algorithm — assignment, probing, rerank — is
    re-expressible in SQL and value-checked, not just rows-counted."""
    from energydatalake_spark.similarity.search import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, k=TOPK_K, n_cells=IVF_CELLS, n_probe=IVF_PROBE)
    return out.select(
        "query_id", "vec_id", _r(F.col("cosine"), 6).alias("cosine"), "rank"
    )


KMEANS_ITER = 3
# Train the codebook on a deterministic 1/4 hash-sample: a codebook is a
# summary statistic, so a bounded sample trains it as well as the full
# corpus while cutting every Lloyd iteration's scan and shuffle — at
# 100 TB the caller raises the mod so the sample stays ~1M vectors and
# training cost becomes corpus-size-independent. The predicate is pure
# integer arithmetic, so the DuckDB trajectory replay selects the exact
# same rows.
KMEANS_SAMPLE_MOD = 4


def q_similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over a TRAINED codebook: KMEANS_ITER Lloyd iterations of
    distributed spherical k-means (see similarity/search.py
    ``kmeans_centroids`` — data stays on executors, only the few-KB
    model returns to the driver per iteration), trained on the
    KMEANS_SAMPLE_MOD hash-sample, then the standard probe/rerank flow.
    The oracle replays the IDENTICAL trajectory in SQL — same sample
    predicate, exact decimal per-dimension sums, 1e-9 centroid grid,
    cell-id tie-breaks — so even the iterative training is value-hash
    checked, not rows-counted."""
    from energydatalake_spark.similarity.search import ivf_topk, kmeans_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(
        emb,
        n_cells=IVF_CELLS,
        n_iter=KMEANS_ITER,
        round_digits=9,
        train_sample_mod=KMEANS_SAMPLE_MOD,
    )
    # cents is already the collected driver-side codebook; pass it
    # straight through (r19: the createDataFrame+collect round trip
    # cost ~0.5 s of jobs per consuming query for identical rows).
    queries = emb.filter(F.col("vec_id") < TOPK_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(
        emb,
        queries,
        k=TOPK_K,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        centroids=cents,
    )
    return out.select(
        "query_id", "vec_id", _r(F.col("cosine"), 6).alias("cosine"), "rank"
    )


def _sql_kmeans_cent_ctes(n_iter: int = KMEANS_ITER, where: str = "") -> str:
    """The k-means training trajectory as chained CTEs, ending in
    ``cent`` (cell_id, cv, cnm) — the SINGLE source every oracle that
    consumes the trained codebook composes from (IVF search, trained
    clustering): m_train = the KMEANS_SAMPLE_MOD hash-sample
    (identical arithmetic to train_sample_predicate); cent_0 = first
    IVF_CELLS sampled vectors; cent_{i+1} = per-cell, per-dimension
    exact decimal means of the sampled vectors assigned to cent_i
    (cosine argmax, cell-id tie-break), snapped to the 1e-9 grid.
    Mirrors kmeans_centroids step for step. ``where`` restricts the
    base frame ``m`` (and thereby the sample and every downstream
    consumer) — the eval-window queries (semantic_recall) train and
    assign over the same windowed corpus in both engines."""
    from energydatalake_spark.similarity.search import train_sample_sql

    dim = 64  # embeddings table contract (TESTDATA.md)
    sample = train_sample_sql("vec_id", KMEANS_SAMPLE_MOD)
    where_sql = f"\n  WHERE {where}" if where else ""
    parts = [
        f"""m AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
  FROM embeddings{where_sql}
),
m_train AS (
  SELECT vec_id, v, nm FROM m WHERE {sample}
),
cent_0 AS (
  SELECT CAST(vec_id AS BIGINT) AS cell_id, v AS cv
  FROM m_train ORDER BY vec_id LIMIT {IVF_CELLS}
)"""
    ]
    for i in range(n_iter):
        parts.append(
            f"""assign_{i} AS (
  SELECT vec_id, cell_id, v FROM (
    SELECT m.vec_id, c.cell_id, m.v,
           ROW_NUMBER() OVER (
             PARTITION BY m.vec_id
             ORDER BY list_dot_product(m.v, c.cv)
                      / (m.nm * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell_id
           ) AS rn
    FROM m_train m, cent_{i} c
  ) WHERE rn = 1
),
cent_{i + 1} AS (
  SELECT cell_id, list(mv ORDER BY i) AS cv FROM (
    SELECT a.cell_id, t.i,
           FLOOR(CAST(CAST(SUM(CAST(a.v[t.i] AS DECIMAL(38,28))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) * 1000000000.0 + 0.5) / 1000000000.0 AS mv
    FROM assign_{i} a, range(1, {dim + 1}) AS t(i)
    GROUP BY a.cell_id, t.i
  ) GROUP BY cell_id
)"""
        )
    final = f"cent_{n_iter}"
    parts.append(
        f"""cent AS (
  SELECT cell_id, cv, sqrt(list_dot_product(cv, cv)) AS cnm FROM {final}
)"""
    )
    return ",\n".join(parts)


def _sql_similarity_ivf_kmeans() -> str:
    """Trained-codebook IVF search oracle: the shared trajectory CTEs
    plus the full-corpus assignment / probe / rerank — exactly the
    Spark side's kmeans_centroids → ivf_topk flow."""
    parts = [
        _sql_kmeans_cent_ctes(),
        f"""assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT m.vec_id, cent.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY m.vec_id
             ORDER BY list_dot_product(m.v, cent.cv) / (m.nm * cent.cnm) DESC,
                      cent.cell_id
           ) AS rn
    FROM m, cent
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, cell_id FROM (
    SELECT q.vec_id AS query_id, cent.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, cent.cv) / (q.nm * cent.cnm) DESC,
                      cent.cell_id
           ) AS rn
    FROM m q, cent WHERE q.vec_id < {TOPK_NQ}
  ) WHERE rn <= {IVF_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         list_dot_product(qm.v, cm.v) / (qm.nm * cm.nm) AS cos_raw
  FROM probes p
  JOIN assign a USING (cell_id)
  JOIN m qm ON qm.vec_id = p.query_id
  JOIN m cm ON cm.vec_id = a.vec_id
  WHERE a.vec_id != p.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_raw,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)""",
    ]
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT query_id, vec_id,
       FLOOR(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cosine,
       rank
FROM ranked WHERE rank <= {TOPK_K}
"""


SQL_SIMILARITY_IVF_KMEANS = _sql_similarity_ivf_kmeans()


def q_embedding_clusters_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook corpus clustering — the production path of the
    cluster profile: the Lloyd-trained IVF codebook
    (``kmeans_centroids``, sample-trained, trajectory oracle-replayed)
    drives the same zero-shuffle map-side assignment as
    ``embedding_clusters``, yielding the per-cell balance/canonical/
    avg-norm profile an index build publishes. Composition of two
    independently-oracled pieces, itself value-hash checked end to
    end (training trajectory AND clustering in one SQL replay)."""
    from energydatalake_spark.similarity.search import (
        assign_cells,
        kmeans_centroids,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(
        emb,
        n_cells=IVF_CELLS,
        n_iter=KMEANS_ITER,
        train_sample_mod=KMEANS_SAMPLE_MOD,
    )
    # cents is already the collected driver-side codebook; pass it
    # straight through (r19: the createDataFrame+collect round trip
    # cost ~0.5 s of jobs per consuming query for identical rows).
    return _cell_profile(assign_cells(emb, centroids=cents))


def _sql_embedding_clusters_kmeans() -> str:
    return f"""
WITH {_sql_kmeans_cent_ctes()},
assign AS (
  SELECT vec_id, cell_id, nm FROM (
    SELECT m.vec_id, cent.cell_id, m.nm,
           ROW_NUMBER() OVER (
             PARTITION BY m.vec_id
             ORDER BY list_dot_product(m.v, cent.cv) / (m.nm * cent.cnm) DESC,
                      cent.cell_id
           ) AS rn
    FROM m, cent
    WHERE m.nm > 0
  ) WHERE rn = 1
),
{_SQL_CELL_PROFILE_SUFFIX}"""


SQL_SIMILARITY_IVF = f"""
WITH m AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
  FROM embeddings
),
cent AS (SELECT vec_id AS cell_id, v AS cv, nm AS cnm FROM m
         ORDER BY vec_id LIMIT {IVF_CELLS}),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT m.vec_id, cent.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY m.vec_id
             ORDER BY list_dot_product(m.v, cent.cv) / (m.nm * cent.cnm) DESC, cent.cell_id
           ) AS rn
    FROM m, cent
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, cell_id FROM (
    SELECT q.vec_id AS query_id, cent.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, cent.cv) / (q.nm * cent.cnm) DESC, cent.cell_id
           ) AS rn
    FROM m q, cent WHERE q.vec_id < {TOPK_NQ}
  ) WHERE rn <= {IVF_PROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         list_dot_product(qm.v, cm.v) / (qm.nm * cm.nm) AS cos_raw
  FROM probes p
  JOIN assign a USING (cell_id)
  JOIN m qm ON qm.vec_id = p.query_id
  JOIN m cm ON cm.vec_id = a.vec_id
  WHERE a.vec_id != p.query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_raw,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id,
       FLOOR(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cosine,
       rank
FROM ranked WHERE rank <= {TOPK_K}
"""


# ----------------------------------------------------- embedding near-dup

ND_THRESHOLD = 0.4


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = embedding_near_dup(
        read_table(spark, sf_dir, "embeddings"), threshold=ND_THRESHOLD
    )
    return out.select("id_a", "id_b", _r(F.col("cosine"), 6).alias("cosine"))


SQL_DEDUP_EMBEDDING = f"""
WITH m AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       FLOOR(list_dot_product(a.v, b.v) / (a.nm * b.nm) * 1000000.0 + 0.5) / 1000000.0
         AS cosine
FROM m a JOIN m b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nm * b.nm) >= {ND_THRESHOLD}
"""


# More planes than the top-k LSH query: near-dup wants SMALL buckets
# (the scalar per-candidate cosine fold is the cost driver — 8 planes =
# 256 buckets cuts candidates ~16x vs 4 planes; recall loss only for
# pairs >1 signature bit apart, the documented trade).
ND_LSH_PLANES = 8

# Above this corpus size the query sizes n_planes itself (the operator's
# documented law: expected candidates/vector ≈ tables·(1+p)·n/2^p, so p
# must track log2(n) to keep the rerank linear). Every oracle-checked
# scale sits at or below this bound — embeddings is 200 rows at sf0.01,
# 2,000 at sf0.1 — so the static DuckDB mirror (hyperplane literals at
# ND_LSH_PLANES) stays value-hash-exact everywhere the driver compares;
# beyond it the op is bench/scale tier only. Without the sizing, 200k
# vectors at p=8 emit ≈ n²·tables·(1+p)/2^8 ≈ 5e9 collision rows
# (~140 GB of shuffle — measured as a disk-full at the r11 x100 probe).
ND_LSH_ORACLE_MAX_N = 4096


def _nd_lsh_planes(n: int) -> int:
    import math

    if n <= ND_LSH_ORACLE_MAX_N:
        return ND_LSH_PLANES
    return max(ND_LSH_PLANES, int(math.ceil(math.log2(n))) - 2)


def _parquet_rows(sf_dir: str, name: str) -> int:
    """Row count straight from parquet footers (pyarrow dataset
    metadata) — no Spark job, keeps the query builder lazy (r11
    review: DataFrame.count() here launched a scan before every
    build, including the driver's timed window runs)."""
    import os

    import pyarrow.dataset as pads

    return pads.dataset(
        os.path.join(sf_dir, f"{name}.parquet"), format="parquet"
    ).count_rows()


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _parquet_rows(sf_dir, "embeddings")
    out = embedding_near_dup_lsh(
        read_table(spark, sf_dir, "embeddings"),
        threshold=ND_THRESHOLD,
        n_planes=_nd_lsh_planes(n),
        dim=LSH_DIM,
        n_tables=ND_LSH_TABLES,
        # Map-side rerank while the vector table is broadcast-sized
        # (dim·8·n ≈ 1 GB at the bound): the default co-shuffle rerank
        # moves 2·dim·8 B per CANDIDATE and spills locally (the r13
        # x300 probe's α 1.95). Same results either way.
        broadcast_vectors=n <= ND_LSH_BROADCAST_MAX_N,
        # Above the broadcast gate (r14, VERDICT r13 #2): pre-rerank
        # the candidates on int8-quantized vectors (dim bytes per
        # exchange row instead of dim·8) and recheck only the
        # survivors against float64 — same output, output-proportional
        # full-vector shuffle mass. Closes the α-1.95 regime the r13
        # probe measured on the bare co-shuffle path. Width A/B
        # (fresh-JVM x100/x300, r14): int8's 0.084 margin admits a
        # 4.63× survivor band on this generator's near-threshold
        # cosine mass (3.57M survivors / 770k true pairs at 200k
        # vectors), yet still wins end-to-end — 50.6/327.7 s vs
        # int16's 52.5/482.2 s — because the 131M-candidate quantized
        # joins dominate and int16 moves 1.7× their bytes, so the
        # tier quantizes to int8 only.
        compact_rerank=n > ND_LSH_BROADCAST_MAX_N,
    )
    return out.select("id_a", "id_b", _r(F.col("cosine"), 6).alias("cosine"))


ND_LSH_TABLES = 4
ND_LSH_BROADCAST_MAX_N = 2_000_000


def _sql_dedup_embedding_lsh() -> str:
    """Replicates the multi-table sign-LSH candidate generation exactly
    (same seeded hyperplane literals per table), then the exact-cosine
    rerank and threshold — the approximate operator still gets a full
    value-hash oracle because every source of randomness is a driver
    literal."""
    from energydatalake_spark.similarity.search import _hyperplanes

    def bucket_expr(planes, vec: str) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product({vec}, "
            f"[{', '.join(repr(x) for x in p)}]::DOUBLE[]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )

    table_buckets = ",\n         ".join(
        f"{bucket_expr(_hyperplanes(LSH_DIM, ND_LSH_PLANES, seed=42 + t), 'v')} AS b{t}"
        for t in range(ND_LSH_TABLES)
    )
    a_selects = "\n  UNION ALL\n  ".join(
        f"SELECT id AS id_a, {t} AS t, unnest([b{t}, "
        + ", ".join(f"xor(b{t}, {1 << i})" for i in range(ND_LSH_PLANES))
        + "]) AS bucket FROM g"
        for t in range(ND_LSH_TABLES)
    )
    b_selects = "\n  UNION ALL\n  ".join(
        f"SELECT id AS id_b, {t} AS t, b{t} AS bucket FROM g"
        for t in range(ND_LSH_TABLES)
    )
    return f"""
WITH m AS (
  SELECT CAST(vec_id AS BIGINT) AS id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm0
  FROM embeddings
),
g AS (
  SELECT id, v, CASE WHEN nm0 = 0 THEN 1.0 ELSE nm0 END AS nm,
         {table_buckets}
  FROM m
),
a AS (
  {a_selects}
),
b AS (
  {b_selects}
),
cand AS (
  SELECT DISTINCT a.id_a, b.id_b
  FROM a JOIN b USING (t, bucket)
  WHERE a.id_a < b.id_b
)
SELECT c.id_a, c.id_b,
       FLOOR(list_dot_product(ga.v, gb.v) / (ga.nm * gb.nm) * 1000000.0 + 0.5)
         / 1000000.0 AS cosine
FROM cand c
JOIN g ga ON ga.id = c.id_a
JOIN g gb ON gb.id = c.id_b
WHERE list_dot_product(ga.v, gb.v) / (ga.nm * gb.nm) >= {ND_THRESHOLD}
"""


SQL_DEDUP_EMBEDDING_LSH = _sql_dedup_embedding_lsh()

# ------------------------------------------------------------- multimodal

def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline end-to-end with a REAL codec: per
    document, a genuine PNG (stdlib zlib+struct; CRC-correct chunks,
    deflated scanlines) is generated executor-side, then decode_media
    actually parses it — chunk walk, CRC verify, inflate, defilter —
    and emits decoded dims, mean luma, and a pixel fingerprint
    committing to the full raster. The oracle predicts those values
    independently from the id→image contract (md5-hex arithmetic +
    generate_series over pixel indices), so a wrong decode cannot
    hash-match."""
    from energydatalake_spark.multimodal.media import attach_png_media

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = attach_png_media(docs, "media_id")
    return decode_media(media)


SQL_MULTIMODAL_DECODE = """
WITH c AS (
  SELECT doc_id AS media_id, md5(CAST(doc_id AS VARCHAR)) AS d FROM documents
),
dims AS (
  SELECT media_id,
         CAST(('0x' || substr(d, 1, 2))::BIGINT % 12 + 4 AS INTEGER) AS width,
         CAST(('0x' || substr(d, 3, 2))::BIGINT % 8 + 4 AS INTEGER) AS height,
         ('0x' || substr(d, 5, 2))::BIGINT AS seed
  FROM c
),
px AS (
  -- fixed series to the max raster size (width<=15, height<=11);
  -- lateral bounds are unsupported by duckdb's generate_series
  SELECT media_id, width, height,
         SUM((seed + 7 * k) % 256) AS px_sum,
         COUNT(*) AS n_px
  FROM dims, generate_series(0, 164) AS t(k)
  WHERE k < width * height
  GROUP BY 1, 2, 3
)
SELECT media_id,
       'image/png' AS mime,
       width,
       height,
       FLOOR((px_sum / n_px) / 255.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_luma,
       substr(md5(CAST(width AS VARCHAR) || 'x' || CAST(height AS VARCHAR)
                  || ':' || CAST(px_sum AS VARCHAR)), 1, 8) AS pixel_fp
FROM px
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pass with a REAL transform end-to-end: genuine PNGs are
    decoded, nearest-neighbour downscaled ×2 (ceil-divided dims),
    re-encoded through the same stdlib codec, then decode_media parses
    the RESIZED bytes — so the emitted dims/luma/fingerprint commit to
    the full decode→resize→encode→decode round trip. The oracle
    predicts the resized raster independently: output pixel (r, c) is
    input pixel (2r, 2c) = (seed + 7·(2r·w + 2c)) % 256, summed in SQL
    over a generated index grid."""
    from energydatalake_spark.multimodal.media import (
        attach_png_media,
        resize_media,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = attach_png_media(docs, "media_id")
    return decode_media(resize_media(media, factor=2))


SQL_MULTIMODAL_RESIZE = """
WITH c AS (
  SELECT doc_id AS media_id, md5(CAST(doc_id AS VARCHAR)) AS d FROM documents
),
dims AS (
  SELECT media_id,
         CAST(('0x' || substr(d, 1, 2))::BIGINT % 12 + 4 AS INTEGER) AS w,
         CAST(('0x' || substr(d, 3, 2))::BIGINT % 8 + 4 AS INTEGER) AS h,
         ('0x' || substr(d, 5, 2))::BIGINT AS seed
  FROM c
),
rdims AS (
  SELECT media_id, w, h, seed,
         CAST((w + 1) // 2 AS INTEGER) AS w2,
         CAST((h + 1) // 2 AS INTEGER) AS h2
  FROM dims
),
px AS (
  -- output raster index k2 over the max resized size (w2<=8, h2<=6);
  -- source pixel of (r, c) = (2r, 2c) in the original raster
  SELECT media_id, w2, h2,
         SUM((seed + 7 * ((2 * (k2 // w2)) * w + (2 * (k2 % w2)))) % 256)
           AS px_sum,
         COUNT(*) AS n_px
  FROM rdims, generate_series(0, 47) AS t(k2)
  WHERE k2 < w2 * h2
  GROUP BY 1, 2, 3
)
SELECT media_id,
       'image/png' AS mime,
       w2 AS width,
       h2 AS height,
       FLOOR((px_sum / n_px) / 255.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_luma,
       substr(md5(CAST(w2 AS VARCHAR) || 'x' || CAST(h2 AS VARCHAR)
                  || ':' || CAST(px_sum AS VARCHAR)), 1, 8) AS pixel_fp
FROM px
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing (1→N row expansion in mapInPandas) with
    a full oracle: the stub's frame bytes are md5(content ‖ ':' ‖
    str(frame_idx)) — an ASCII suffix, so DuckDB reproduces the digest
    over the same synthetic content and even the Python-side expansion
    is value-checked."""
    from energydatalake_spark.multimodal.media import attach_fake_media, sample_frames

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_media(docs, "doc_id")
    frames = sample_frames(media, every_n=2, max_frames=4, id_col="doc_id")
    return frames.select(
        "media_id",
        "frame_idx",
        F.lower(F.hex(F.col("frame_bytes"))).alias("frame_md5"),
    )


SQL_MULTIMODAL_FRAMES = """
WITH c AS (
  SELECT doc_id AS media_id,
         'MEDIA:' || md5(CAST(doc_id AS VARCHAR)) || ':'
                  || md5(CAST(doc_id AS VARCHAR)) AS content
  FROM documents
)
SELECT media_id,
       CAST(k AS INTEGER) AS frame_idx,
       md5(content || ':' || CAST(k AS VARCHAR)) AS frame_md5
FROM c, unnest([0, 2, 4, 6]) AS t(k)
"""


def q_multimodal_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing (bytes → fixed-dim vector via
    Arrow-batched mapInPandas); the md5-expansion stub is reproduced in
    SQL byte-for-byte, float32-rounded on both sides."""
    from energydatalake_spark.multimodal.media import (
        EMBED_DIM,
        attach_fake_media,
        media_embedding,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    emb = media_embedding(attach_fake_media(docs, "doc_id"), id_col="doc_id")
    return emb.select(
        "media_id",
        *[
            F.element_at(F.col("embedding"), i + 1).cast("double").alias(f"e{i}")
            for i in range(EMBED_DIM)
        ],
    )


def _sql_multimodal_embed() -> str:
    from energydatalake_spark.multimodal.media import EMBED_DIM

    cols = ",\n       ".join(
        # byte i of the md5 digest / 255.0, float32-rounded like the
        # ArrayType(FloatType) column on the Spark side
        f"CAST(CAST(('0x' || substr(d, {2 * i + 1}, 2))::BIGINT / 255.0 AS REAL)"
        f" AS DOUBLE) AS e{i}"
        for i in range(EMBED_DIM)
    )
    return f"""
WITH c AS (
  SELECT doc_id AS media_id,
         md5('MEDIA:' || md5(CAST(doc_id AS VARCHAR)) || ':'
             || md5(CAST(doc_id AS VARCHAR))) AS d
  FROM documents
)
SELECT media_id,
       {cols}
FROM c
"""


SQL_MULTIMODAL_EMBED = _sql_multimodal_embed()

# ------------------------------------------------------------- corpus prep

CP_MIN_QUALITY = 0.5
CP_LANG = "en"


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline the individual operators
    exist for: exact-dedup (keep canonical doc per text hash) →
    quality-score filter → language filter → surviving corpus with its
    stats. One scan feeds the dedup aggregate; the survivors join back
    to stats on doc_id. This is the end-to-end shape of a 100 TB
    corpus-prep job: every stage is a hash shuffle on a compact key,
    the text bodies never shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    canonical = exact_dedup(docs).select("canonical_id", "n_copies")
    stats = text_stats(docs)
    lang = language_id(docs).select("doc_id", "pred_lang")
    return (
        canonical.join(
            stats, canonical.canonical_id == stats.doc_id
        )
        .join(lang, "doc_id")
        .filter(
            (F.col("quality_score") >= CP_MIN_QUALITY)
            & (F.col("pred_lang") == CP_LANG)
        )
        .select(
            "doc_id",
            "n_copies",
            "n_tokens",
            _r(F.col("quality_score"), 6).alias("quality_score"),
            "pred_lang",
        )
    )


def _sql_corpus_prep() -> str:
    lang_sql = SQL_LANG_ID.strip().rstrip(";")
    stats_sql = SQL_TEXT_STATS.strip()
    return f"""
WITH canonical AS (
  SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
  FROM documents GROUP BY md5(text)
),
stats AS ({stats_sql}),
lang AS ({lang_sql})
SELECT s.doc_id,
       c.n_copies,
       s.n_tokens,
       FLOOR(s.quality_score * 1000000.0 + 0.5) / 1000000.0 AS quality_score,
       l.pred_lang
FROM canonical c
JOIN stats s ON s.doc_id = c.canonical_id
JOIN lang l ON l.doc_id = s.doc_id
WHERE s.quality_score >= {CP_MIN_QUALITY} AND l.pred_lang = '{CP_LANG}'
"""


SQL_CORPUS_PREP = _sql_corpus_prep()


def q_corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pipeline, composed end-to-end from the
    individual operators: normalize (+PII mask) → exact dedup on the
    NORMALIZED text (catches whitespace/case near-copies plain md5
    misses) → quality + language filter → deterministic train split →
    context-window chunking of the normalized text → token-budget
    packing. Every stage is the registry operator itself, so this
    query's oracle is assembled from the same generated SQL fragments —
    one value-hash over the whole composition.

    Scale shape: normalize/chunk are per-row; dedup and the
    stats/lang joins shuffle compact keys (hash, doc_id) — normalized
    bodies shuffle only into the chunk explode, which is map-side."""
    from energydatalake_spark.text.normalize_text import normalize_text
    from energydatalake_spark.text.sampling import (
        chunk_documents,
        hash_split,
        pack_chunks,
    )

    docs = read_table(spark, sf_dir, "documents")
    norm = normalize_text(docs).select("doc_id", "text_norm")
    canonical = (
        norm.groupBy(F.md5(F.col("text_norm")).alias("norm_md5"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    stats = text_stats(docs).select("doc_id", "quality_score")
    lang = language_id(docs).select("doc_id", "pred_lang")
    kept = (
        canonical.join(stats, "doc_id")
        .join(lang, "doc_id")
        .filter(
            (F.col("quality_score") >= CP_MIN_QUALITY)
            & (F.col("pred_lang") == CP_LANG)
        )
        .select("doc_id", "n_copies")
    )
    train = hash_split(kept, SPLIT_WEIGHTS, salt=SPLIT_SALT).filter(
        F.col("split") == "train"
    )
    texts = train.join(norm, "doc_id").select(
        "doc_id", F.col("text_norm").alias("text")
    )
    chunks = chunk_documents(texts, max_tokens=CHUNK_TOKENS)
    packed = pack_chunks(chunks, budget=PACK_BUDGET, n_shards=PACK_SHARDS)
    return packed.join(
        chunks.select("doc_id", "chunk_id", F.md5("chunk_text").alias("chunk_md5")),
        ["doc_id", "chunk_id"],
    )


def _sql_corpus_prep_full() -> str:
    from energydatalake_spark.text.normalize_text import sql_normalize_expr
    from energydatalake_spark.text.sampling import N_BUCKETS, _sql_hash_bucket

    norm = sql_normalize_expr("text")
    stats_sql = SQL_TEXT_STATS.strip()
    lang_sql = SQL_LANG_ID.strip()
    train_hi = int(round(SPLIT_WEIGHTS["train"] * N_BUCKETS))
    return f"""
WITH norm AS (SELECT doc_id, {norm} AS text_norm FROM documents),
canonical AS (
  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
  FROM norm GROUP BY md5(text_norm)
),
stats AS ({stats_sql}),
lang AS ({lang_sql}),
kept AS (
  SELECT c.doc_id, c.n_copies
  FROM canonical c
  JOIN stats s ON s.doc_id = c.doc_id
  JOIN lang l ON l.doc_id = c.doc_id
  WHERE s.quality_score >= {CP_MIN_QUALITY} AND l.pred_lang = '{CP_LANG}'
),
train AS (
  SELECT doc_id, n_copies FROM kept
  WHERE {_sql_hash_bucket('doc_id', SPLIT_SALT)} < {train_hi}
),
texts AS (
  SELECT t.doc_id, n.text_norm AS text, string_split(n.text_norm, ' ') AS toks
  FROM train t JOIN norm n ON n.doc_id = t.doc_id
),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT)))
           AS chunk_id
  FROM texts
),
ch AS (
  SELECT doc_id,
         CAST(chunk_id AS INTEGER) AS chunk_id,
         CAST(len(toks[chunk_id * {CHUNK_TOKENS} + 1 :
                       chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS}]) AS BIGINT)
           AS n_chunk_tokens,
         md5(array_to_string(toks[chunk_id * {CHUNK_TOKENS} + 1 :
                                  chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS}], ' '))
           AS chunk_md5,
         CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard
  FROM c
),
p AS (
  SELECT doc_id, chunk_id, n_chunk_tokens, chunk_md5, shard,
         SUM(n_chunk_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id, chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM ch
)
SELECT doc_id, chunk_id, n_chunk_tokens, shard,
       CAST(floor((cum - n_chunk_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id,
       chunk_md5
FROM p
"""


# ------------------------------------------------- split / sample / chunk

SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
SPLIT_SALT = "v1"
SAMPLE_FRACTIONS = {"en": 1.0, "fr": 0.5, "de": 0.25}
SAMPLE_DEFAULT = 0.1
CHUNK_TOKENS = 64


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split: membership is a pure function of
    (salt, doc_id) — stable across re-runs, partitionings, engines."""
    from energydatalake_spark.text.sampling import hash_split

    out = hash_split(
        read_table(spark, sf_dir, "documents"), SPLIT_WEIGHTS, salt=SPLIT_SALT
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


def _sql_train_split() -> str:
    from energydatalake_spark.text.sampling import N_BUCKETS, _sql_hash_bucket

    edges, acc = [], 0.0
    for name, w in SPLIT_WEIGHTS.items():
        acc += w
        edges.append((name, int(round(acc * N_BUCKETS))))
    whens = " ".join(f"WHEN bucket < {hi} THEN '{name}'" for name, hi in edges[:-1])
    return f"""
WITH b AS (
  SELECT doc_id, {_sql_hash_bucket('doc_id', SPLIT_SALT)} AS bucket FROM documents
)
SELECT CASE {whens} ELSE '{edges[-1][0]}' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM b
GROUP BY split
"""


SQL_TRAIN_SPLIT = _sql_train_split()


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from energydatalake_spark.text.sampling import stratified_sample

    out = stratified_sample(
        read_table(spark, sf_dir, "documents"),
        "lang",
        SAMPLE_FRACTIONS,
        default=SAMPLE_DEFAULT,
        salt=SPLIT_SALT,
    )
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


def _sql_stratified_sample() -> str:
    from energydatalake_spark.text.sampling import N_BUCKETS, _sql_hash_bucket

    whens = " ".join(
        f"WHEN lang = '{k}' THEN {int(round(v * N_BUCKETS))}"
        for k, v in SAMPLE_FRACTIONS.items()
    )
    return f"""
WITH b AS (
  SELECT doc_id, lang, {_sql_hash_bucket('doc_id', SPLIT_SALT)} AS bucket
  FROM documents
)
SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM b
WHERE bucket < (CASE {whens} ELSE {int(round(SAMPLE_DEFAULT * N_BUCKETS))} END)
GROUP BY lang
"""


SQL_STRATIFIED_SAMPLE = _sql_stratified_sample()


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from energydatalake_spark.text.sampling import chunk_documents

    out = chunk_documents(
        read_table(spark, sf_dir, "documents"), max_tokens=CHUNK_TOKENS
    )
    return out.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


SQL_DOC_CHUNKS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT)))
           AS chunk_id
  FROM t
)
SELECT doc_id,
       CAST(chunk_id AS INTEGER) AS chunk_id,
       CAST(len(toks[chunk_id * {CHUNK_TOKENS} + 1 :
                     chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS}]) AS BIGINT)
         AS n_chunk_tokens,
       md5(array_to_string(toks[chunk_id * {CHUNK_TOKENS} + 1 :
                                chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS}], ' '))
         AS chunk_md5
FROM c
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from energydatalake_spark.text.normalize_text import normalize_text

    out = normalize_text(read_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.length(F.col("text_norm")).cast("bigint").alias("n_norm_chars"),
        F.md5(F.col("text_norm")).alias("norm_md5"),
    )


def _sql_text_normalize() -> str:
    from energydatalake_spark.text.normalize_text import sql_normalize_expr

    expr = sql_normalize_expr("text")
    return f"""
SELECT doc_id,
       CAST(length({expr}) AS BIGINT) AS n_norm_chars,
       md5({expr}) AS norm_md5
FROM documents
"""


SQL_TEXT_NORMALIZE = _sql_text_normalize()

PACK_BUDGET, PACK_SHARDS = 128, 16


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from energydatalake_spark.text.sampling import chunk_documents, pack_chunks

    chunks = chunk_documents(
        read_table(spark, sf_dir, "documents"), max_tokens=CHUNK_TOKENS
    )
    return pack_chunks(chunks, budget=PACK_BUDGET, n_shards=PACK_SHARDS)


SQL_PACK_CHUNKS = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT)))
           AS chunk_id
  FROM t
),
ch AS (
  SELECT doc_id,
         CAST(chunk_id AS INTEGER) AS chunk_id,
         CAST(len(toks[chunk_id * {CHUNK_TOKENS} + 1 :
                       chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS}]) AS BIGINT)
           AS n_chunk_tokens,
         CAST(doc_id % {PACK_SHARDS} AS INTEGER) AS shard
  FROM c
),
p AS (
  SELECT doc_id, chunk_id, n_chunk_tokens, shard,
         SUM(n_chunk_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id, chunk_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM ch
)
SELECT doc_id, chunk_id, n_chunk_tokens, shard,
       CAST(floor((cum - n_chunk_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
FROM p
"""


SQL_CORPUS_PREP_FULL = _sql_corpus_prep_full()


# ------------------------------------------- repetition / contamination / mix


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-class repetition quality signals per document (duplicate
    words / most-frequent-word fraction / duplicate 3-grams) — pure
    map-side higher-order folds, zero shuffle (text/stats.py
    ``repetition_stats``)."""
    from energydatalake_spark.text.stats import repetition_stats

    return repetition_stats(read_table(spark, sf_dir, "documents"))


SQL_DOC_REPETITION = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), w AS (
  SELECT doc_id, unnest(ws) AS tok FROM d
), cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM w GROUP BY 1, 2
), top AS (
  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top FROM cnt GROUP BY 1
), base AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS nt,
         CAST(len(list_distinct(ws)) AS BIGINT) AS nd,
         CASE WHEN len(ws) >= 3
              THEN list_transform(generate_series(1, len(ws) - 2),
                                  i -> array_to_string(ws[i:i+2], ' '))
              ELSE [] END AS grams
  FROM d
), g AS (
  SELECT doc_id, nt, nd,
         CAST(len(grams) AS BIGINT) AS ng,
         CAST(len(list_distinct(grams)) AS BIGINT) AS ngd
  FROM base
)
SELECT g.doc_id,
       g.nt AS n_words,
       g.nd AS n_distinct_words,
       top.top AS top_word_count,
       (g.nt - g.nd) / CAST(g.nt AS DOUBLE) AS dup_word_frac,
       top.top / CAST(g.nt AS DOUBLE) AS top_word_frac,
       CASE WHEN g.ng > 0 THEN (g.ng - g.ngd) / CAST(g.ng AS DOUBLE)
            ELSE 0.0 END AS dup_ngram_frac
FROM g JOIN top USING (doc_id)
"""


#: Pseudo-benchmark designation: the deterministic 1/16 hash-sample of
#: documents stands in for a held-out eval suite. In production the
#: benchmark side is the real test sets — a few MB, always
#: broadcastable.
CONTAM_BENCH_MOD = 16
CONTAM_NGRAM = 5


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥1 exact
    word 5-gram with any pseudo-benchmark document, with the shared
    shingle count per (doc, bench) pair. Scale shape: distinct shingles
    explode per side, join on the 60-bit portable shingle hash with the
    benchmark side BROADCAST — the corpus never shuffles; cost is one
    scan + a map-side hash join, the standard n-gram-overlap
    decontamination pass (e.g. GPT-3 appendix C)."""
    from energydatalake_spark.similarity.search import train_sample_predicate
    from energydatalake_spark.text.stats import _hex15_to_long, shingles

    docs = read_table(spark, sf_dir, "documents")
    pred = train_sample_predicate(F.col("doc_id"), CONTAM_BENCH_MOD)
    sh = F.explode(shingles("text", CONTAM_NGRAM))
    bench = docs.filter(pred).select(
        F.col("doc_id").alias("bench_id"), sh.alias("s")
    )
    corpus = docs.filter(~pred).select("doc_id", sh.alias("s"))
    h = lambda d: d.withColumn("h", _hex15_to_long(F.md5("s"))).drop("s")  # noqa: E731
    out = (
        h(corpus)
        .join(F.broadcast(h(bench)), "h")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return out


def _sql_contamination() -> str:
    from energydatalake_spark.similarity.search import train_sample_sql

    bench_pred = train_sample_sql("doc_id", CONTAM_BENCH_MOD)
    n = CONTAM_NGRAM
    return f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), sh AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             generate_series(1, len(ws) - {n} + 1),
             i -> array_to_string(ws[i:i+{n}-1], ' ')))) AS s
    FROM d WHERE len(ws) >= {n}
  )
), bench AS (
  SELECT doc_id AS bench_id, h FROM sh WHERE {bench_pred}
), corp AS (
  SELECT doc_id, h FROM sh WHERE NOT ({bench_pred})
)
SELECT corp.doc_id, bench.bench_id, COUNT(*) AS n_shared
FROM corp JOIN bench USING (h)
GROUP BY 1, 2
"""


#: Training-mix weights per language domain — up-sampling en 2.5x,
#: down-sampling es to 0.25x, defaults at 1.0 — the standard
#: domain-reweighting knob for corpus assembly.
MIX_WEIGHTS = {"en": 2.5, "fr": 1.5, "es": 0.25}


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain re-mixing summary: every document emitted
    floor(w) times plus a hash-fractional extra copy
    (text/sampling.py ``weighted_upsample`` — map-side generator
    explode, no shuffle), aggregated to per-domain realized counts and
    an order-insensitive copy checksum."""
    from energydatalake_spark.text.sampling import weighted_upsample

    docs = read_table(spark, sf_dir, "documents")
    up = weighted_upsample(docs, MIX_WEIGHTS, domain_col="lang", default=1.0)
    return up.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.col("doc_id") * F.col("copy_idx"))
        .cast("bigint")
        .alias("checksum"),
    )


def _sql_corpus_mix() -> str:
    from energydatalake_spark.text.sampling import N_BUCKETS, _sql_hash_bucket

    def n_copies_sql(w: float) -> str:
        base = int(w)
        extra_cut = int(round((w - base) * N_BUCKETS))
        return f"{base} + CASE WHEN bucket < {extra_cut} THEN 1 ELSE 0 END"

    cases = " ".join(
        f"WHEN '{dom}' THEN {n_copies_sql(w)}"
        for dom, w in MIX_WEIGHTS.items()
    )
    return f"""
WITH b AS (
  SELECT doc_id, lang, {_sql_hash_bucket('doc_id', 'v1')} AS bucket
  FROM documents
), n AS (
  SELECT doc_id, lang,
         CASE lang {cases} ELSE {n_copies_sql(1.0)} END AS n
  FROM b
), e AS (
  SELECT doc_id, lang, unnest(generate_series(1, n)) AS copy_idx
  FROM n WHERE n > 0
)
SELECT lang,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT doc_id) AS n_docs,
       CAST(SUM(doc_id * copy_idx) AS BIGINT) AS checksum
FROM e GROUP BY lang
"""


SQL_CONTAMINATION = _sql_contamination()
SQL_CORPUS_MIX = _sql_corpus_mix()


VOCAB_TOPK = 100


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word-frequency table, top-VOCAB_TOPK — the first
    pass of tokenizer training (BPE/unigram start from exactly this
    count table). Scale shape: token explode → ONE map-side-combined
    groupBy (partial counts per partition, tiny merged state), then a
    global top-k sort on the (vocab-sized, not corpus-sized)
    aggregate. Ties break lexicographically so the row set is
    engine-deterministic."""
    from energydatalake_spark.text.stats import tokens

    docs = read_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.orderBy(F.desc("n"), F.asc("w")).limit(VOCAB_TOPK)


SQL_VOCAB_TOPK = f"""
SELECT w, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY w
ORDER BY n DESC, w
LIMIT {VOCAB_TOPK}
"""


VOCAB_COVER_K = 20  # coverage of the top-20 corpus vocabulary


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV rate per source — the measurement
    behind vocabulary-size decisions (tokenizer design, `vocab_topk`'s
    evaluation twin): what fraction of each source's token stream is
    covered by the corpus-wide top-``VOCAB_COVER_K`` vocabulary, and
    how many distinct OOV types remain.

    Scale shape: the vocab is a k-row frame built from the ONE
    map-side-combined corpus count (vocab_topk's aggregate) and
    broadcasts to the per-source token stream; coverage is then a
    second map-side-combined aggregate keyed by source — two
    vocab/source-sized shuffles, token rows never shuffle twice.
    Micro-unit rates make the division portable."""
    from energydatalake_spark.text.stats import tokens

    docs = read_table(spark, sf_dir, "documents")
    # The explode feeds both the vocab top-k branch and the coverage
    # stream; an r20 persist A/B regressed (0.49 -> 0.78 s at sf0.1:
    # the cache barrier costs more than this cheap tokenize), so the
    # second pass stays — unlike the md5-heavy boilerplate/line
    # explodes, which persist.
    toks = docs.select("source", F.explode(tokens("text")).alias("w"))
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(VOCAB_COVER_K)
        .select("w", F.lit(True).alias("in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "w", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNotNull().cast("long")).alias(
                "n_covered"
            ),
            F.count_distinct(
                F.when(F.col("in_vocab").isNull(), F.col("w"))
            ).alias("oov_types"),
        )
        .select(
            "source",
            "n_tokens",
            "n_covered",
            "oov_types",
            _r(F.col("n_covered") / F.col("n_tokens"), 6).alias("coverage"),
        )
    )


SQL_VOCAB_COVERAGE = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (
  SELECT w FROM (SELECT w, COUNT(*) AS n FROM toks GROUP BY w
                 ORDER BY n DESC, w LIMIT {VOCAB_COVER_K})
)
SELECT source,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_covered,
       CAST(COUNT(DISTINCT CASE WHEN v.w IS NULL THEN toks.w END) AS BIGINT)
         AS oov_types,
       FLOOR(CAST(SUM(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS coverage
FROM toks LEFT JOIN vocab v USING (w)
GROUP BY source
"""


SHUFFLE_SHARDS = 16


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle summary (text/sampling.py
    ``shuffle_shards``): per-shard row count, doc checksum, and the
    position-weighted checksum that pins the WITHIN-shard permutation
    — so the oracle verifies the full reproducible training order, not
    just the shard split."""
    from energydatalake_spark.text.sampling import shuffle_shards

    docs = read_table(spark, sf_dir, "documents")
    sh = shuffle_shards(docs, n_shards=SHUFFLE_SHARDS)
    return sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").cast("bigint").alias("doc_checksum"),
        F.sum(F.col("doc_id") * F.col("shard_pos"))
        .cast("bigint")
        .alias("order_checksum"),
    )


def _sql_shuffle_shards() -> str:
    from energydatalake_spark.text.sampling import _sql_hash_key

    key = _sql_hash_key("doc_id", "v1")
    return f"""
WITH k AS (
  SELECT doc_id, {key} AS sort_key FROM documents
), s AS (
  SELECT doc_id, sort_key,
         CAST(sort_key % {SHUFFLE_SHARDS} AS INTEGER) AS shard
  FROM k
), p AS (
  SELECT doc_id, shard,
         CAST(ROW_NUMBER() OVER (PARTITION BY shard
                                 ORDER BY sort_key, doc_id) AS BIGINT)
           AS shard_pos
  FROM s
)
SELECT shard,
       COUNT(*) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS doc_checksum,
       CAST(SUM(doc_id * shard_pos) AS BIGINT) AS order_checksum
FROM p GROUP BY shard
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster formation — pairwise MinHash matches
    (identical parameters to `minhash_pairs`) closed into connected
    components by iterative min-label propagation
    (operators/graph.py), every document labeled with its component's
    min doc_id and the minimum member marked canonical: the actual
    keep-one dedup decision a corpus build executes, not just the pair
    list. The oracle replays the same closure as a recursive CTE over
    the same pair SQL."""
    from energydatalake_spark.operators.graph import connected_components

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_pairs(
        docs,
        n=MH_N,
        bands=MH_BANDS,
        rows=MH_ROWS,
        threshold=MH_THRESHOLD,
        auto_rows_max=_mh_auto_rows_max(sf_dir),
    )
    # nodes_cover_edges: documents.doc_id is the primary key and every
    # pair endpoint is a doc_id — the singleton attachment is one scan
    # of the corpus (plan-literal label map / broadcast join), never a
    # corpus-wide distinct+anti-join shuffle (r10, VERDICT r9 #3).
    cc = connected_components(
        pairs.select("id_a", "id_b"),
        nodes=docs,
        node_col="doc_id",
        nodes_cover_edges=True,
    )
    return cc.select(
        F.col("v").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("label") == F.col("v")).alias("is_canonical"),
    )


def _sql_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_PAIRS}),
edges AS (
  SELECT id_a AS v, id_b AS u FROM pairs
  UNION
  SELECT id_b AS v, id_a AS u FROM pairs
),
reach AS (
  SELECT doc_id AS v, doc_id AS r FROM documents
  UNION
  SELECT e.v, reach.r FROM edges e JOIN reach ON reach.v = e.u
)
SELECT v AS doc_id,
       MIN(r) AS cluster_id,
       (MIN(r) = v) AS is_canonical
FROM reach GROUP BY v
"""


TFIDF_K = 5


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k salient terms by tf-idf
    (text/relevance.py) — the keyword-extraction / relevance
    primitive and the feature front-end of linear quality
    classifiers. One token explode feeds both count tables (the tf
    exchange is reused for the df aggregate); ranking is over the
    1e-6-quantized score with lexicographic term tie-break, so the
    row set is engine-deterministic."""
    from energydatalake_spark.text.relevance import tfidf_topk

    return tfidf_topk(read_table(spark, sf_dir, "documents"), k=TFIDF_K)


SQL_TFIDF_TOPK = f"""
WITH tf AS (
  SELECT doc_id, w AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         FLOOR(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / dfreq.df)
               * 1000000.0 + 0.5) / 1000000.0 AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df, tfidf,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tfidf DESC, term
         ) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank
FROM ranked WHERE rank <= {TFIDF_K}
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM fluency scoring (text/relevance.py
    ``bigram_lm_scores``) — every document's average token
    log-probability under an add-one-smoothed bigram model trained on
    the corpus itself: the deterministic stand-in for the
    KenLM-perplexity filters of CCNet/Gopher-class pipelines.
    Per-bigram log-probs are quantized to bigint micro-nats BEFORE
    the per-doc sum, so the distributed reduction is
    addition-order-independent and the value hash is portable."""
    from energydatalake_spark.text.relevance import bigram_lm_scores

    return bigram_lm_scores(read_table(spark, sf_dir, "documents"))


SQL_LM_SCORE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w2) AS vsz FROM bg),
term AS (
  SELECT bg.doc_id,
         CAST(FLOOR(LN(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.vsz AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS lp
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       FLOOR(CAST(SUM(lp) AS DOUBLE) / 1000000.0 / COUNT(*)
             * 1000000.0 + 0.5) / 1000000.0 AS avg_logp
FROM term GROUP BY doc_id
"""


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space corpus clustering summary
    (similarity/search.py ``assign_cells``): every vector
    coarse-quantized to its nearest codebook cell by a map-side
    argmax over plan-literal centroids (ZERO shuffles for
    assignment — same machinery as IVF), then one vocab-sized
    aggregate: member count, canonical (min-id) member, and the
    average vector norm per cluster. The norm average sums
    1e-6-quantized bigint micro-units, so it is
    addition-order-independent. This is the corpus-topology profile
    (cluster balance, outlier cells) that drives cluster-balanced
    sampling of training data. Zero-norm vectors are excluded in both
    engines (no direction → no defined nearest cell)."""
    from energydatalake_spark.similarity.search import assign_cells

    emb = read_table(spark, sf_dir, "embeddings")
    return _cell_profile(assign_cells(emb, n_cells=IVF_CELLS))


def _cell_profile(assigned: DataFrame) -> DataFrame:
    """Per-cell cluster profile over an ``assign_cells`` frame —
    member count, canonical (min-id) member, micro-unit-summed average
    norm. ONE home for both the stand-in and the trained-codebook
    clustering queries, so the quantization/rounding convention cannot
    desynchronize between them (or their SQL twins)."""
    nm_micro = F.floor(F.col("norm") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    per_cell = (
        assigned.select("vec_id", "cell_id", nm_micro.alias("nm"))
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("canonical_vec_id"),
            F.sum("nm").alias("nm_sum"),
        )
    )
    return per_cell.select(
        "cell_id",
        "n_members",
        "canonical_vec_id",
        _r(
            F.col("nm_sum") / F.lit(1e6) / F.col("n_members").cast("double"), 6
        ).alias("avg_norm"),
    )


#: Shared SQL suffix over an `assign`(vec_id, cell_id, nm) CTE — the
#: twin of `_cell_profile`, composed by both clustering oracles.
_SQL_CELL_PROFILE_SUFFIX = """q AS (
  SELECT vec_id, cell_id,
         CAST(FLOOR(nm * 1000000.0 + 0.5) AS BIGINT) AS nmq
  FROM assign
)
SELECT CAST(cell_id AS BIGINT) AS cell_id,
       COUNT(*) AS n_members,
       MIN(vec_id) AS canonical_vec_id,
       FLOOR(CAST(SUM(nmq) AS DOUBLE) / 1000000.0 / COUNT(*)
             * 1000000.0 + 0.5) / 1000000.0 AS avg_norm
FROM q GROUP BY cell_id
"""


SQL_EMBEDDING_CLUSTERS = f"""
WITH m AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
  FROM embeddings
),
cent AS (SELECT vec_id AS cell_id, v AS cv, nm AS cnm FROM m
         ORDER BY vec_id LIMIT {IVF_CELLS}),
assign AS (
  SELECT vec_id, cell_id, nm FROM (
    SELECT m.vec_id, cent.cell_id, m.nm,
           ROW_NUMBER() OVER (
             PARTITION BY m.vec_id
             ORDER BY list_dot_product(m.v, cent.cv) / (m.nm * cent.cnm) DESC,
                      cent.cell_id
           ) AS rn
    FROM m, cent
    WHERE m.nm > 0
  ) WHERE rn = 1
),
{_SQL_CELL_PROFILE_SUFFIX}"""


OUTLIER_LO, OUTLIER_HI = 0.05, 0.95


def q_doc_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier trim: documents outside the corpus's exact
    [p5, p95] character-length band, flagged by side — the
    distribution-tail cleaning step (truncated boilerplate on the
    short side, concatenation junk on the long side) that precedes
    model-based quality filters. EXACT percentiles (sort-based, one
    shuffle on nothing — a global aggregate), not a sketch: t-digest
    bounds are merge-order-dependent and would break the value hash.
    The bounds ride back in as a broadcast one-row aggregate and the
    filter compares against the 1e-6-rounded bounds, which both
    engines agree on (the raw interpolated double's last ulp does
    not survive the rounding)."""
    docs = read_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.percentile(
            F.col("n_chars"), F.array(F.lit(OUTLIER_LO), F.lit(OUTLIER_HI))
        ).alias("q")
    ).select(
        _r(F.element_at("q", 1), 6).alias("lo"),
        _r(F.element_at("q", 2), 6).alias("hi"),
    )
    flagged = docs.join(F.broadcast(bounds)).filter(
        (F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi"))
    )
    return flagged.select(
        "doc_id",
        "n_chars",
        F.when(F.col("n_chars") < F.col("lo"), F.lit("short"))
        .otherwise(F.lit("long"))
        .alias("side"),
        "lo",
        "hi",
    )


SQL_DOC_OUTLIERS = f"""
WITH b AS (
  SELECT FLOOR(quantile_cont(n_chars, {OUTLIER_LO}) * 1000000.0 + 0.5)
           / 1000000.0 AS lo,
         FLOOR(quantile_cont(n_chars, {OUTLIER_HI}) * 1000000.0 + 0.5)
           / 1000000.0 AS hi
  FROM documents
)
SELECT doc_id, n_chars,
       CASE WHEN n_chars < b.lo THEN 'short' ELSE 'long' END AS side,
       b.lo, b.hi
FROM documents CROSS JOIN b
WHERE n_chars < b.lo OR n_chars > b.hi
"""


def q_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) dataset-card rollup — doc counts, token and
    char totals, corpus share, and average quality — the aggregate
    view that drives sampling-mix decisions and is published beside a
    released corpus. ONE scan: per-row stats pass source/lang through
    (``text_stats(keep_cols=...)``, no doc_id re-join), then one
    map-side-combined group aggregate; the corpus total rides back in
    as a broadcast one-row count. Per-row quality doubles are
    quantized to bigint micro-units before the group sum, so the
    reduction is addition-order-independent."""
    from energydatalake_spark.text.stats import text_stats

    docs = read_table(spark, sf_dir, "documents")
    st = text_stats(docs, keep_cols=("source", "lang"))
    # Empty-text guard: n_chars = 0 makes punct_ratio 0/0 (NaN), which
    # Spark's bigint cast would silently turn into 0 while DuckDB's
    # raises — so an empty doc scores NULL in BOTH engines, is skipped
    # by the sum, and the average divides by the scored count.
    q_micro = F.when(
        F.col("n_chars") > 0,
        F.floor(F.col("quality_score") * F.lit(1e6) + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    grouped = (
        st.select("source", "lang", "n_tokens", "n_chars", q_micro.alias("qm"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("qm").alias("q_sum"),
            F.count("qm").alias("q_cnt"),
        )
    )
    total = docs.agg(F.count(F.lit(1)).alias("corpus_docs"))
    return grouped.join(F.broadcast(total)).select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        "total_chars",
        F.when(
            F.col("q_cnt") > 0,
            _r(
                F.col("q_sum") / F.lit(1e6) / F.col("q_cnt").cast("double"),
                6,
            ),
        ).alias("avg_quality"),
        _r(
            F.col("n_docs").cast("double")
            / F.col("corpus_docs")
            * F.lit(100.0),
            6,
        ).alias("pct_docs"),
    )


SQL_SOURCE_PROFILE = f"""
{_sql_stats_m_cte("doc_id, source, lang")}, q AS (
  SELECT source, lang, nc, nt,
         CASE WHEN nc > 0 THEN
           CAST(FLOOR(({_SQL_QUALITY_EXPR}) * 1000000.0 + 0.5) AS BIGINT)
         END AS qm
  FROM m
), total AS (SELECT COUNT(*) AS corpus_docs FROM documents)
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS total_tokens,
       CAST(SUM(nc) AS BIGINT) AS total_chars,
       CASE WHEN COUNT(qm) > 0 THEN
         FLOOR(CAST(SUM(qm) AS DOUBLE) / 1000000.0 / COUNT(qm)
               * 1000000.0 + 0.5) / 1000000.0
       END AS avg_quality,
       FLOOR(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(corpus_docs) * 100.0
             * 1000000.0 + 0.5) / 1000000.0 AS pct_docs
FROM q CROSS JOIN total
GROUP BY source, lang
"""


INCR_MOD = 5  # doc_id % INCR_MOD == 0 plays the incoming batch


def q_corpus_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingestion — the production loop of a living
    corpus: an incoming batch (deterministically, every INCR_MOD-th
    doc) is admitted against the existing corpus with exact-dup
    rejection first (md5 join), then near-dup rejection (MinHash LSH
    pairs crossing the batch/corpus boundary, same parameters as
    `minhash_pairs`), else accepted. Every batch doc gets a verdict
    and the minimum matching corpus doc_id (null when accepted).

    Scale shape: the exact tier is one hash equi-join; the near-dup
    tier reuses the banded-LSH candidate generation (never
    all-pairs). At production scale the existing corpus's signatures
    and band buckets are a persisted index appended per batch, not
    recomputed — that loop is implemented in
    ``pipelines/incremental.py`` (build_minhash_index /
    incremental_ingest, sharing this query's signature space via
    ``text.dedup.minhash_signatures``; pinned scans-index-not-corpus
    by tests/test_incremental.py). The plan HERE recomputes because
    the oracle replays one self-contained expression. Contract
    difference: THIS query judges batch docs against the corpus side
    only (batch-batch pairs are filtered out), while the production
    loop also applies an intra-batch tier (smaller-id batch docs count
    as already-seen — ADVICE r8), because co-arriving duplicates are
    the common case there."""
    docs = read_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % INCR_MOD == 0
    new_h = docs.filter(is_new).select("doc_id", F.md5("text").alias("h"))
    old_h = docs.filter(~is_new).select(
        F.col("doc_id").alias("old_id"), F.md5("text").alias("h")
    )
    exact = new_h.join(old_h, "h").groupBy("doc_id").agg(
        F.min("old_id").alias("exact_id")
    )
    pairs = minhash_pairs(
        docs, n=MH_N, bands=MH_BANDS, rows=MH_ROWS, threshold=MH_THRESHOLD
    )
    a_new = F.col("id_a") % INCR_MOD == 0
    b_new = F.col("id_b") % INCR_MOD == 0
    near = (
        pairs.filter(a_new != b_new)
        .select(
            F.when(a_new, F.col("id_a")).otherwise(F.col("id_b")).alias("doc_id"),
            F.when(a_new, F.col("id_b")).otherwise(F.col("id_a")).alias("old_id"),
        )
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("near_id"))
    )
    batch = docs.filter(is_new).select("doc_id")
    return (
        batch.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("accept"))
            .alias("verdict"),
            F.coalesce("exact_id", "near_id").alias("matched_doc_id"),
        )
    )


def _sql_corpus_increment() -> str:
    return f"""
WITH pairs AS ({SQL_MINHASH_PAIRS}),
newdocs AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % {INCR_MOD} = 0
),
olddocs AS (
  SELECT doc_id AS old_id, md5(text) AS h
  FROM documents WHERE doc_id % {INCR_MOD} <> 0
),
exact AS (
  SELECT n.doc_id, MIN(o.old_id) AS exact_id
  FROM newdocs n JOIN olddocs o USING (h) GROUP BY n.doc_id
),
near AS (
  SELECT CASE WHEN id_a % {INCR_MOD} = 0 THEN id_a ELSE id_b END AS doc_id,
         MIN(CASE WHEN id_a % {INCR_MOD} = 0 THEN id_b ELSE id_a END) AS near_id
  FROM pairs
  WHERE (id_a % {INCR_MOD} = 0) <> (id_b % {INCR_MOD} = 0)
  GROUP BY 1
)
SELECT n.doc_id,
       CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
            WHEN nr.near_id IS NOT NULL THEN 'near_dup'
            ELSE 'accept' END AS verdict,
       COALESCE(e.exact_id, nr.near_id) AS matched_doc_id
FROM (SELECT doc_id FROM documents WHERE doc_id % {INCR_MOD} = 0) n
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near nr USING (doc_id)
"""


def q_corpus_increment_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch admission with the INTRA-BATCH tier (r9, ADVICE r8): the
    `corpus_increment` verdict extended so co-arriving duplicates —
    the common production case — are caught inside the batch itself.
    A batch doc's "already seen" set is the corpus PLUS every
    smaller-id batch doc, through both tiers: exact (md5 equality)
    and near (MinHash LSH pairs, same parameters as `minhash_pairs`).
    Greedy min-id rule, so each duplicate cluster arriving together
    admits exactly one representative. This is the oracle-checked
    twin of ``pipelines.incremental.incremental_ingest``'s
    intra-batch semantics (which probes a persisted index instead of
    recomputing — same verdict contract).

    Scale shape: the exact tier is ONE hash equi-join of the batch
    against all docs with the eligibility predicate (corpus, or batch
    with smaller id) applied post-join — no second self-join; the
    near tier is one pass over the banded-LSH pair frame (id_a <
    id_b, so a batch-batch pair charges its larger id). Never
    all-pairs anywhere."""
    docs = read_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % INCR_MOD == 0
    new_h = docs.filter(is_new).select("doc_id", F.md5("text").alias("h"))
    all_h = docs.select(F.col("doc_id").alias("old_id"), F.md5("text").alias("h"))
    old_is_corpus = F.col("old_id") % INCR_MOD != 0
    exact = (
        new_h.join(all_h, "h")
        .filter(
            (F.col("old_id") != F.col("doc_id"))
            & (old_is_corpus | (F.col("old_id") < F.col("doc_id")))
        )
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("exact_id"))
    )
    pairs = minhash_pairs(
        docs, n=MH_N, bands=MH_BANDS, rows=MH_ROWS, threshold=MH_THRESHOLD
    )
    a_new = F.col("id_a") % INCR_MOD == 0
    b_new = F.col("id_b") % INCR_MOD == 0
    # One pass: both-new pairs charge the larger id (id_b — pairs are
    # emitted id_a < id_b); cross pairs charge the new side.
    near = (
        pairs.filter(a_new | b_new)
        .select(
            F.when(a_new & b_new, F.col("id_b"))
            .when(a_new, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id"),
            F.when(a_new & b_new, F.col("id_a"))
            .when(a_new, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("old_id"),
        )
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("near_id"))
    )
    batch = docs.filter(is_new).select("doc_id")
    return (
        batch.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("accept"))
            .alias("verdict"),
            F.coalesce("exact_id", "near_id").alias("matched_doc_id"),
        )
    )


def _sql_corpus_increment_batch() -> str:
    return f"""
WITH pairs AS ({SQL_MINHASH_PAIRS}),
newdocs AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % {INCR_MOD} = 0
),
alldocs AS (SELECT doc_id AS old_id, md5(text) AS h FROM documents),
exact AS (
  SELECT n.doc_id, MIN(o.old_id) AS exact_id
  FROM newdocs n JOIN alldocs o USING (h)
  WHERE o.old_id <> n.doc_id
    AND (o.old_id % {INCR_MOD} <> 0 OR o.old_id < n.doc_id)
  GROUP BY n.doc_id
),
near AS (
  SELECT CASE WHEN id_a % {INCR_MOD} = 0 AND id_b % {INCR_MOD} = 0 THEN id_b
              WHEN id_a % {INCR_MOD} = 0 THEN id_a ELSE id_b END AS doc_id,
         MIN(CASE WHEN id_a % {INCR_MOD} = 0 AND id_b % {INCR_MOD} = 0 THEN id_a
              WHEN id_a % {INCR_MOD} = 0 THEN id_b ELSE id_a END) AS near_id
  FROM pairs
  WHERE id_a % {INCR_MOD} = 0 OR id_b % {INCR_MOD} = 0
  GROUP BY 1
)
SELECT n.doc_id,
       CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
            WHEN nr.near_id IS NOT NULL THEN 'near_dup'
            ELSE 'accept' END AS verdict,
       COALESCE(e.exact_id, nr.near_id) AS matched_doc_id
FROM (SELECT doc_id FROM documents WHERE doc_id % {INCR_MOD} = 0) n
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near nr USING (doc_id)
"""


BOILER_N, BOILER_DF = 3, 2  # 3-gram shingles; in >BOILER_DF docs = boilerplate


def q_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-dominated document filter — the cross-document
    repeated-phrase signal (headers, footers, licence blocks) that
    intra-doc `doc_repetition` cannot see: each doc's distinct
    word-3-gram shingles are scored by corpus doc-frequency, and the
    doc is kept iff at most half its shingles are corpus-boilerplate
    (df > BOILER_DF docs). The RefinedWeb/CCNet line-dedup analogue
    for corpora without line structure.

    Scale shape: shingles shuffle as md5-reduced 8-byte longs, never
    strings; the df table is shingle-vocab-sized with map-side
    partial counts; the keep decision is pure integer arithmetic
    (2·n_boiler ≤ n_shingles), so no float threshold can drift
    cross-engine. Docs with fewer than BOILER_N tokens have no
    shingles and are absent (no signal ≠ bad)."""
    from energydatalake_spark.text.dedup import _persist_shingles
    from energydatalake_spark.text.stats import _hex15_to_long, shingles

    docs = read_table(spark, sf_dir, "documents")
    # Persist the 16-byte (doc_id, sh) explode — the minhash_pairs
    # precedent: BOTH consumers (the df aggregate's build side and the
    # join's stream side) read the cache, so the corpus tokenize +
    # shingle + md5 chain runs ONCE. Without it, whenever the df table
    # broadcasts (always locally, and at any scale where the vocab fits
    # the threshold) there is no exchange for reuse to latch onto and
    # the explode runs twice (r20 plan audit: Generate at ops (2) AND
    # (6)). Released by release_caches() with the other shingle frames.
    sh = _persist_shingles(
        docs.select(
            "doc_id", F.explode(shingles("text", BOILER_N)).alias("s")
        ).select("doc_id", _hex15_to_long(F.md5(F.col("s"))).alias("sh"))
    )
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("df") > BOILER_DF, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_boiler"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        _r(
            F.col("n_boiler").cast("double") / F.col("n_shingles"), 6
        ).alias("boiler_frac"),
        (F.lit(2) * F.col("n_boiler") <= F.col("n_shingles")).alias("keep"),
    )


SQL_BOILERPLATE_FILTER = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(array_to_string(tk[i:i + {BOILER_N - 1}], ' ')),
                         1, 15))::BIGINT AS sh
  FROM t, UNNEST(range(1, len(tk) - {BOILER_N} + 2)) AS u(i)
  WHERE len(tk) >= {BOILER_N}
),
dfreq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN df > {BOILER_DF} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       FLOOR(CAST(SUM(CASE WHEN df > {BOILER_DF} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS boiler_frac,
       2 * SUM(CASE WHEN df > {BOILER_DF} THEN 1 ELSE 0 END) <= COUNT(*)
         AS keep
FROM sh JOIN dfreq USING (sh)
GROUP BY doc_id
"""


FUNNEL_REP_MAX = 0.12  # drop docs whose top word exceeds 12% of tokens
FUNNEL_LM_MIN = -3.43  # drop the least-fluent tail of the bigram-LM score


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality funnel — the cleaning pipeline's per-stage
    survival report, chaining every r6 quality signal the way a real
    corpus build does: boilerplate phrase filter → repetition filter
    (top-word fraction) → bigram-LM fluency floor → exact dedup
    (keep-min-id per md5). One row of monotone non-increasing counts:
    exactly the funnel chart a data-curation review reads.

    Thresholds compare bit-identical values cross-engine: the
    repetition fraction is a division of identical integers, the LM
    score is already 1e-6-quantized, and keep flags are integer
    arithmetic. Docs below a signal's support (no shingles / no
    bigrams) pass that stage — no signal is not evidence of badness.
    Canonical-dedup membership is defined over the whole corpus (min
    doc_id per content hash), independent of the other gates, so the
    stages stay independently auditable.

    Scale shape: each signal is its own count-table pipeline (all
    individually audited under their standalone queries); the funnel
    joins four doc-keyed flag frames and takes ONE conditional-count
    aggregate — no new shuffle class."""
    from energydatalake_spark.text.relevance import bigram_lm_scores
    from energydatalake_spark.text.stats import repetition_stats

    docs = read_table(spark, sf_dir, "documents")
    bp = q_boilerplate_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_bp")
    )
    rep = repetition_stats(docs).select("doc_id", "top_word_frac")
    lm = bigram_lm_scores(docs).select("doc_id", "avg_logp")
    from pyspark.sql import Window

    canon = docs.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        ).alias("is_canon"),
    )
    flags = (
        docs.select("doc_id")
        .join(bp, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .join(canon, "doc_id")
        .select(
            F.coalesce("keep_bp", F.lit(True)).alias("s1"),
            (F.coalesce(F.col("top_word_frac") <= FUNNEL_REP_MAX, F.lit(True))).alias("r_ok"),
            (F.coalesce(F.col("avg_logp") >= FUNNEL_LM_MIN, F.lit(True))).alias("l_ok"),
            F.col("is_canon"),
        )
    )
    c = lambda col: F.sum(F.when(col, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).alias("n_input"),
        c(F.col("s1")).alias("n_after_boilerplate"),
        c(F.col("s1") & F.col("r_ok")).alias("n_after_repetition"),
        c(F.col("s1") & F.col("r_ok") & F.col("l_ok")).alias("n_after_fluency"),
        c(
            F.col("s1") & F.col("r_ok") & F.col("l_ok") & F.col("is_canon")
        ).alias("n_after_dedup"),
    )


def _sql_corpus_funnel() -> str:
    return f"""
WITH bp AS ({SQL_BOILERPLATE_FILTER}),
rep AS ({SQL_DOC_REPETITION}),
lm AS ({SQL_LM_SCORE}),
canon AS (
  SELECT doc_id,
         doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_canon
  FROM documents
),
flags AS (
  SELECT COALESCE(bp.keep, TRUE) AS s1,
         COALESCE(rep.top_word_frac <= {FUNNEL_REP_MAX}, TRUE) AS r_ok,
         COALESCE(lm.avg_logp >= {FUNNEL_LM_MIN}, TRUE) AS l_ok,
         canon.is_canon
  FROM documents d
  LEFT JOIN bp USING (doc_id)
  LEFT JOIN rep USING (doc_id)
  LEFT JOIN lm USING (doc_id)
  JOIN canon ON canon.doc_id = d.doc_id
)
SELECT COUNT(*) AS n_input,
       CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_boilerplate,
       CAST(SUM(CASE WHEN s1 AND r_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_repetition,
       CAST(SUM(CASE WHEN s1 AND r_ok AND l_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_after_fluency,
       CAST(SUM(CASE WHEN s1 AND r_ok AND l_ok AND is_canon THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup
FROM flags
"""



LINE_W, LINE_DF = 3, 2  # 3-word lines; in >LINE_DF docs = corpus boilerplate


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus line-frequency dedup (CCNet/RefinedWeb line dedup): drop
    every occurrence of lines that appear in more than ``LINE_DF``
    documents, reassembling each document from its surviving lines in
    order. Where ``boilerplate_filter`` SCORES a document by its
    shingle boilerplate fraction, this op REWRITES the text — the two
    are the score/transform pair of the same cleaning stage.

    The synthetic corpus has no newlines, so the query first gives it
    deterministic line structure — consecutive non-overlapping
    ``LINE_W``-word chunks joined by \n (the same chunking rule both
    engines replay) — then runs the REAL operator
    (``text.dedup.line_dedup``) on that line-structured text.

    Scale shape (see line_dedup's docstring): lines shuffle as 60-bit
    hashes; the drop set is boilerplate-sized and broadcasts; the
    reassembly groups one document per task.
    """
    docs = read_table(spark, sf_dir, "documents")
    # Token array bound ONCE per row (the shingles() singleton-array
    # idiom): inlining split() into the chunk lambda would re-split
    # the document once per chunk — the O(tokens²) HOF pathology the
    # r6 split-binding fix removed from every shingle scan.
    lined = docs.select(
        "doc_id",
        F.expr(
            "element_at(transform(array(split(text, ' ')), tk -> "
            "concat_ws('\\n', transform("
            f"sequence(1, cast(ceil(size(tk) / {LINE_W}.0) as int)), "
            f"i -> array_join(slice(tk, (i - 1) * {LINE_W} + 1, {LINE_W}), ' ')"
            "))), 1)"
        ).alias("text_nl"),
    )
    out = line_dedup(
        lined, text_col="text_nl", id_col="doc_id", sep="\n", max_df=LINE_DF
    )
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5(F.col("text_kept")).alias("kept_md5"),
        F.length(F.col("text_kept")).cast("long").alias("kept_chars"),
    )


SQL_LINE_DEDUP = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
c AS (
  SELECT doc_id, i AS pos,
         array_to_string(tk[(i - 1) * {LINE_W} + 1:(i - 1) * {LINE_W} + {LINE_W}], ' ') AS line
  FROM t, UNNEST(range(1, (len(tk) + {LINE_W} - 1) // {LINE_W} + 1)) AS u(i)
),
h AS (
  SELECT doc_id, pos, line,
         ('0x' || substr(md5(line), 1, 15))::BIGINT AS lh
  FROM c
),
f AS (SELECT lh, COUNT(DISTINCT doc_id) AS line_df FROM h GROUP BY lh),
k AS (SELECT doc_id, pos, line, line_df <= {LINE_DF} AS keep
      FROM h JOIN f USING (lh))
SELECT doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (WHERE keep), '')) AS kept_md5,
       CAST(len(COALESCE(string_agg(line, chr(10) ORDER BY pos)
                           FILTER (WHERE keep), '')) AS BIGINT) AS kept_chars
FROM k
GROUP BY doc_id
"""



SPAN_K, SPAN_DF = 5, 1  # ≥5-token runs appearing in >1 doc are removed


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span removal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): every run of
    ≥``SPAN_K`` consecutive tokens that appears in more than
    ``SPAN_DF`` documents is removed from ALL documents, with no line
    structure required — the last standard large-corpus dedup tier
    (exact doc / near-dup / line / span). Where ``line_dedup`` needs a
    ``sep`` and ``boilerplate_filter`` only scores, this REWRITES at
    token granularity over sliding windows with automatic run-merging.

    Scale shape (see text.dedup.substring_dedup): grams are 60-bit
    longs built from k-1 lead() columns in ONE window pass; the
    duplicated-gram set broadcasts; coverage is a running max on the
    already doc-partitioned frame; reassembly is one doc per task.
    """
    docs = read_table(spark, sf_dir, "documents")
    out = substring_dedup(
        docs, text_col="text", id_col="doc_id", k=SPAN_K, max_df=SPAN_DF
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_kept",
        F.md5(F.col("text_kept")).alias("kept_md5"),
        F.length(F.col("text_kept")).cast("long").alias("kept_chars"),
    )


SQL_SUBSTRING_DEDUP = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
tok AS (
  SELECT doc_id, i - 1 AS pos, tk[i] AS tok
  FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i)
),
g AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(tk[i:i + {SPAN_K} - 1], ' ') AS gram
  FROM t, UNNEST(range(1, len(tk) - {SPAN_K} + 2)) AS u(i)
),
dup AS (
  SELECT gram
  FROM (SELECT gram, COUNT(DISTINCT doc_id) AS c FROM g GROUP BY gram)
  WHERE c > {SPAN_DF}
),
m AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
f AS (
  SELECT tok.doc_id, tok.pos, tok.tok,
         MAX(m.pos) OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS last_dup_start
  FROM tok LEFT JOIN m ON m.doc_id = tok.doc_id AND m.pos = tok.pos
),
kflag AS (
  SELECT doc_id, pos, tok,
         NOT COALESCE(last_dup_start >= pos - {SPAN_K} + 1, FALSE) AS keep
  FROM f
),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         COALESCE(string_agg(tok, ' ' ORDER BY pos)
                    FILTER (WHERE keep), '') AS kept
  FROM kflag
  GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(agg.n_tokens, 0) AS n_tokens,
       COALESCE(agg.n_kept, 0) AS n_kept,
       md5(COALESCE(agg.kept, '')) AS kept_md5,
       CAST(len(COALESCE(agg.kept, '')) AS BIGINT) AS kept_chars
FROM documents d LEFT JOIN agg USING (doc_id)
"""


HTF_DIM = 64  # hashed-tfidf vector width


def q_hashed_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing tf-idf vectorizer (``text.relevance
    .hashed_tfidf``): every document becomes a sparse L2-normalized
    ``HTF_DIM``-dimension vector via the hashing trick — the
    text→vector bridge between the corpus-cleaning tier and the
    ANN/similarity tier. Emitted sparse as (doc_id, dim_idx, weight).
    """
    from energydatalake_spark.text.relevance import hashed_tfidf

    docs = read_table(spark, sf_dir, "documents")
    return hashed_tfidf(docs, dim=HTF_DIM)


SQL_HASHED_TFIDF = f"""
WITH tf AS (
  SELECT doc_id, w AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id,
         CAST(((('0x' || substr(md5(tf.term), 1, 15))::BIGINT >> 1)
               % {HTF_DIM}) AS INTEGER) AS dim_idx,
         (1 - (('0x' || substr(md5(tf.term), 1, 15))::BIGINT % 2) * 2)
         * CAST(FLOOR(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / dfreq.df)
                      * 1000000.0 + 0.5) AS BIGINT) AS wq
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
bucket AS (
  SELECT doc_id, dim_idx, SUM(wq) AS wq
  FROM scored GROUP BY doc_id, dim_idx
  HAVING SUM(wq) <> 0
),
norms AS (
  SELECT doc_id,
         SUM(CAST(FLOOR(POW(CAST(wq AS DOUBLE) / 1000000.0, 2.0)
                        * 1000000.0 + 0.5) AS BIGINT)) AS nsum
  FROM bucket GROUP BY doc_id
)
SELECT b.doc_id, b.dim_idx,
       FLOOR((CAST(b.wq AS DOUBLE) / 1000000.0)
             / SQRT(CAST(n2.nsum AS DOUBLE) / 1000000.0)
             * 1000000.0 + 0.5) / 1000000.0 AS weight
FROM bucket b JOIN norms n2 USING (doc_id)
"""


LM_T1, LM_T2 = 1.0 / 3.0, 2.0 / 3.0  # per-lang tercile cutpoints


def q_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing: split each language's documents
    into head / middle / tail by terciles of the bigram-LM fluency
    score (``lm_score``'s avg_logp — high score = low perplexity =
    head). Downstream mixes then sample the buckets at different
    rates; this op emits the per-document assignment.

    Scale shape: the cutpoint table is languages-sized (2 doubles per
    lang) and broadcasts back; the bucket decision is a per-row CASE.
    Cutpoints use EXACT per-group ``percentile`` for the value-hash
    oracle (the ``quantiles`` precedent: exact interpolation + 1e-6
    rounding is engine-portable; sort is per-lang, not global). At
    100 TB swap in ``approx_percentile`` (mergeable GK sketch, bounded
    relative error) at the same call site — cutpoints are estimates of
    a distribution, so sketch error moves a sliver of borderline docs
    between adjacent buckets, it does not corrupt the semantics.
    Documents with <2 tokens carry no LM signal and are absent, as in
    ``lm_score``."""
    from energydatalake_spark.text.relevance import bigram_lm_scores

    docs = read_table(spark, sf_dir, "documents")
    # The compact per-doc score frame (4 narrow columns) feeds BOTH the
    # cutpoint aggregate and the final join. Column pruning gives the
    # two branches different canonical subplans, so exchange reuse
    # does NOT kick in and the whole corpus bigram chain would run
    # twice — localCheckpoint (non-eager, the dedup_clusters precedent)
    # materializes the scores once, scores-sized not corpus-sized.
    scored = (
        bigram_lm_scores(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .localCheckpoint(eager=False)
    )
    cuts = (
        scored.groupBy("lang")
        .agg(
            F.percentile(
                F.col("avg_logp"), F.array(F.lit(LM_T1), F.lit(LM_T2))
            ).alias("q")
        )
        .select(
            "lang",
            _r(F.element_at("q", 1), 6).alias("q1"),
            _r(F.element_at("q", 2), 6).alias("q2"),
        )
    )
    bucket = (
        F.when(F.col("avg_logp") >= F.col("q2"), F.lit("head"))
        .when(F.col("avg_logp") >= F.col("q1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id", "lang", "avg_logp", bucket.alias("bucket")
    )


SQL_LM_BUCKETS = f"""
WITH s AS ({SQL_LM_SCORE}),
d AS (
  SELECT s.doc_id, doc.lang, s.avg_logp
  FROM s JOIN documents doc USING (doc_id)
),
cut AS (
  SELECT lang,
         FLOOR(quantile_cont(avg_logp, {LM_T1!r}) * 1000000.0 + 0.5)
           / 1000000.0 AS q1,
         FLOOR(quantile_cont(avg_logp, {LM_T2!r}) * 1000000.0 + 0.5)
           / 1000000.0 AS q2
  FROM d GROUP BY lang
)
SELECT doc_id, lang, avg_logp,
       CASE WHEN avg_logp >= q2 THEN 'head'
            WHEN avg_logp >= q1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM d JOIN cut USING (lang)
"""



SOURCE_CAP = 15  # max documents any one source may contribute


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (text/sampling.py
    ``cap_per_domain``): rank each source's documents by the frozen
    (salt, id) hash order and flag rank > SOURCE_CAP for drop — the
    crawl-mix downsampler that keeps one giant domain from dominating
    training data. Emits every document with its rank and flag (audit
    form); the keep-only form is the same plan with the WindowGroupLimit
    rank<=k pushdown."""
    from energydatalake_spark.text.sampling import cap_per_domain

    docs = read_table(spark, sf_dir, "documents")
    return cap_per_domain(docs, cap=SOURCE_CAP, domain_col="source").select(
        "doc_id",
        F.col("source").alias("domain"),
        F.col("cap_rank").cast("long").alias("cap_rank"),
        "kept",
    )


def _sql_source_cap() -> str:
    from energydatalake_spark.text.sampling import sql_cap_per_domain

    return sql_cap_per_domain(SOURCE_CAP)



def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@k of the sign-LSH tier against
    the exact brute-force top-k, per query — the measurement that
    decides whether an approximate index's (n_planes, n_tables) knobs
    are safe to deploy. Composes the two existing search tiers and
    joins their result sets on (query_id, vec_id).

    Scale shape: both searches emit nq·k rows (query-set-sized, tiny
    next to the corpus); the comparison join and per-query aggregate
    run on those result sets, so evaluation adds nothing to the
    corpus-side cost beyond the second search. Exact tie handling:
    both tiers break cosine ties by ascending vec_id, so recall is
    deterministic."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=TOPK_K).select("query_id", "vec_id")
    approx = lsh_topk(
        emb, queries, k=TOPK_K, n_planes=LSH_PLANES, dim=LSH_DIM
    ).select("query_id", "vec_id")
    return _recall_vs_exact(exact, approx)


def _sql_recall_vs_exact(approx_sql: str) -> str:
    return f"""
WITH exact AS ({SQL_SIMILARITY_TOPK}),
approx AS ({approx_sql}),
hits AS (
  SELECT e.query_id, e.vec_id
  FROM exact e
  WHERE EXISTS (SELECT 1 FROM approx a
                WHERE a.query_id = e.query_id AND a.vec_id = e.vec_id)
),
n AS (SELECT query_id, COUNT(*) AS n_hits FROM hits GROUP BY query_id),
base AS (SELECT query_id, COUNT(*) AS k_eff FROM exact GROUP BY query_id)
SELECT base.query_id, base.k_eff,
       COALESCE(n.n_hits, 0) AS n_hits,
       FLOOR(CAST(COALESCE(n.n_hits, 0) AS DOUBLE) / k_eff * 1000000.0 + 0.5)
         / 1000000.0 AS recall
FROM base LEFT JOIN n USING (query_id)
"""


def _sql_ann_recall() -> str:
    return _sql_recall_vs_exact(_sql_similarity_lsh())


def q_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of an INT8-QUANTIZED index against the float exact
    top-k — the measurement that licenses the 4× memory cut of
    quantizing a 100 TB embedding index (similarity.search
    .quantize_embeddings): corpus vectors snap to their per-vector
    255-level grid, queries stay full precision (the deployed
    asymmetric-search shape), and recall is evaluated on the nq·k
    result sets exactly like ann_recall/ivf_recall."""
    from energydatalake_spark.similarity.search import quantize_embeddings

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=TOPK_K).select("query_id", "vec_id")
    approx = cosine_topk(quantize_embeddings(emb), queries, k=TOPK_K).select(
        "query_id", "vec_id"
    )
    return _recall_vs_exact(exact, approx)


SQL_QUANTIZED_TOPK = f"""
WITH q0 AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {TOPK_NQ}
),
c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS amax
  FROM c0
),
dq AS (
  SELECT vec_id,
         CASE WHEN amax = 0 THEN v ELSE
           list_transform(v, x ->
             LEAST(GREATEST(FLOOR(x * (127.0 / amax) + 0.5), -127.0), 127.0)
             / (127.0 / amax))
         END AS cv
  FROM sc
),
qn AS (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS qnorm FROM q0),
cn AS (SELECT vec_id, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM dq),
scored AS (
  SELECT query_id, vec_id, list_dot_product(qv, cv) / (qnorm * cnorm) AS cos_raw
  FROM qn, cn WHERE vec_id != query_id
),
ranked AS (
  SELECT query_id, vec_id, cos_raw,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_raw DESC, vec_id) AS INTEGER)
           AS rank
  FROM scored
)
SELECT query_id, vec_id,
       FLOOR(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cosine,
       rank
FROM ranked WHERE rank <= {TOPK_K}
"""


def _sql_quantized_recall() -> str:
    return _sql_recall_vs_exact(SQL_QUANTIZED_TOPK)


def _recall_vs_exact(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared recall@k comparison over two (query_id, vec_id) result
    sets (see q_ann_recall for the semantics and scale notes).

    ONE left join + ONE aggregate (r20): both result sets are unique
    on (query_id, vec_id) by construction (rank ≤ k from a row_number
    window), so the join is 1:1-at-most and per-query k_eff = row
    count, n_hits = matched-row count — the same numbers the previous
    semi-join + two aggregates + re-join produced. The old shape
    consumed `exact` TWICE with no materialization, so the expensive
    exact brute-force tier (broadcast-cross + window over the corpus)
    executed twice per recall query."""
    hits = exact.join(
        approx.select("query_id", "vec_id", F.lit(1).alias("__hit")),
        ["query_id", "vec_id"],
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k_eff"),
            F.count("__hit").alias("n_hits"),
        )
        .select(
            "query_id",
            "k_eff",
            "n_hits",
            _r(F.col("n_hits").cast("double") / F.col("k_eff"), 6).alias(
                "recall"
            ),
        )
    )


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF tier (n_probe cells probed) against exact
    brute force — the companion measurement to `ann_recall`'s LSH
    number: together they price the two approximate indexes' recall
    at identical k so the (n_planes/n_tables vs n_cells/n_probe)
    trade is decided from data, not guesswork. Same scale shape:
    the comparison runs on the nq·k result sets only."""
    from energydatalake_spark.similarity.search import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_NQ).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=TOPK_K).select("query_id", "vec_id")
    approx = ivf_topk(
        emb, queries, k=TOPK_K, n_cells=IVF_CELLS, n_probe=IVF_PROBE
    ).select("query_id", "vec_id")
    return _recall_vs_exact(exact, approx)



#: SemDeDup codebook: ONE Lloyd refinement of the deterministic
#: first-N seed. Measured r9 at sf0.1 (keeps out of 2000 vectors —
#: fewer keeps = more duplicates found): 0 iters 1815 keeps / 0.76 s
#: warm, 1 iter 1788 / ~2.0 s, 2 iters 1779 / ~3.6 s, 3 iters 1781 /
#: ~4.6 s — the recall knee is the FIRST iteration; each further
#: iteration costs ~1.2 s of fixed per-job overhead for ≤9 keeps.
SEM_KMEANS_ITER = 1

#: semantic_dedup self-sizes its codebook above this corpus size (the
#: same oracle-bound gating as dedup_embedding_lsh / ND_LSH_ORACLE_MAX_N:
#: every driver-checked scale — 500 embeddings at sf0.01, 2,000 at
#: sf0.1 — sits at or below the bound, so the recursive k-means-
#: trajectory SQL mirror stays value-hash-exact everywhere the driver
#: compares; beyond it the op is bench/scale tier only, rows-only
#: checked). Without the sizing, 16 fixed cells make within-cell
#: scoring O((n/16)²) — the engine's last structural α₂ > 1 at the
#: r11 x100 probe (1.11, 106 s at 200k vectors).
SEM_ORACLE_MAX_N = ND_LSH_ORACLE_MAX_N

#: Target mean cell occupancy for the self-sized tier. Within-cell
#: scoring then costs n·SEM_TARGET_CELL_ROWS cosine evaluations —
#: linear in the corpus — while the codebook stays model-sized
#: (n/256 cells × dim doubles; 200k vectors → 782 cells ≈ 400 KB).
SEM_TARGET_CELL_ROWS = 256

#: Cap on the EXPECTED NumPy-Lloyd training sample (the actual
#: hash-sample lands within a few % of n/mod). Keeps the gated driver
#: collect bounded at any corpus size; headroom below the trainer's
#: train_max_rows=131,072 refusal absorbs sample-size variance.
SEM_TRAIN_SAMPLE_TARGET = 100_000


def _sem_cells(n: int) -> int:
    import math

    if n <= SEM_ORACLE_MAX_N:
        return IVF_CELLS
    return max(IVF_CELLS, math.ceil(n / SEM_TARGET_CELL_ROWS))


#: Queries whose static DuckDB mirror is only the right oracle up to a
#: bound on a table's row count (the query self-sizes its model or
#: geometry above it). tools/oracle_check.py downgrades these to a
#: rows-only verdict beyond the bound — the mirror is the wrong oracle
#: there, not the query wrong. Values: (table, max_rows).
ORACLE_STATIC_BOUNDS = {
    "dedup_embedding_lsh": ("embeddings", ND_LSH_ORACLE_MAX_N),
    "semantic_dedup": ("embeddings", SEM_ORACLE_MAX_N),
    "minhash_pairs": ("documents", MH_ORACLE_MAX_DOCS),
    "dedup_clusters": ("documents", MH_ORACLE_MAX_DOCS),
}


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication verdict (Abbas et al., 2023),
    the paper's actual shape: a k-means codebook (SEM_KMEANS_ITER
    Lloyd refinement on the deterministic KMEANS_SAMPLE_MOD
    hash-sample — same trajectory machinery as
    `similarity_ivf_kmeans`), every vector assigned to its nearest
    cell map-side, and near-dup components (cosine ≥ ND_THRESHOLD)
    closed and collapsed WITHIN each cell — no global closure;
    cross-cell duplicates are missed by design, which is the
    approximation that makes the op linear-ish. The embedding-space
    twin of `dedup_clusters` (which closes MinHash TEXT pairs
    globally); every vector is labeled with its within-cell
    component's min id and the minimum member kept.

    Scale shape (r8 verdict #2 — replaces the global-CC form whose
    closure cost scaled α=0.90 at the sf1 probe): ONE exchange — the
    codebook is plan literals, assignment a map-side argmax fold, the
    only shuffle the groupBy(cell), and each cell resolves components
    with an Arrow-batched union-find (no CC rounds, no lineage
    growth). n_cells must scale with the corpus to bound the
    within-cell O(|cell|²) scoring; oversize cells raise loudly
    (similarity/neardup.py embedding_semantic_dedup).

    Two tiers on n_cells (VERDICT r11 #1, the dedup_embedding_lsh
    gating pattern): at ≤SEM_ORACLE_MAX_N vectors the codebook is the
    static IVF_CELLS trained by the distributed decimal-exact Lloyd —
    the recursive SQL mirror replays that trajectory value-hash-exact.
    Above the bound n_cells tracks the corpus (⌈n/SEM_TARGET_CELL_ROWS⌉,
    bounding cell occupancy so scoring stays linear), training moves
    to the bounded-sample NumPy Lloyd (search.kmeans_centroids_np —
    sample sized a few × n_cells via the same deterministic hash
    predicate), and cell assignment switches to the Arrow-batched BLAS
    argmax inside the operator — TWO-LEVEL above 512 cells (r14,
    VERDICT r13 #1: brute argmax over the corpus-sized codebook was
    O(n²·dim/256), the measured α₃ = 1.41; IVF-style coarse routing
    through ⌈√n_cells⌉ coarse cells makes it O(n·√n_cells·dim) — see
    embedding_semantic_dedup's docstring for the measured recall
    parity)."""
    from energydatalake_spark.similarity.neardup import embedding_semantic_dedup
    from energydatalake_spark.similarity.search import (
        kmeans_centroids,
        kmeans_centroids_np,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    n = _parquet_rows(sf_dir, "embeddings")
    n_cells = _sem_cells(n)
    if n_cells == IVF_CELLS:
        cents = kmeans_centroids(
            emb,
            n_cells=IVF_CELLS,
            n_iter=SEM_KMEANS_ITER,
            round_digits=9,
            train_sample_mod=KMEANS_SAMPLE_MOD,
        )
    else:
        # Sample target: 8 vectors per cell keeps init + means stable
        # while the driver-side training collect stays model-scale —
        # CAPPED at SEM_TRAIN_SAMPLE_TARGET so the expected sample
        # n/mod never outgrows the trainer's gated collect (r12
        # review: 8·n_cells is n/32 at the default occupancy, which
        # crossed train_max_rows at ~4.2M embeddings and hard-failed
        # the very tier built for scale). Above ~16M embeddings
        # n_cells approaches the capped sample and the trainer refuses
        # with its few-vectors guard — that regime wants an externally
        # trained codebook via the centroids parameter (see
        # kmeans_centroids_np's docstring).
        target = min(max(8 * n_cells, 4096), SEM_TRAIN_SAMPLE_TARGET)
        mod = max(KMEANS_SAMPLE_MOD, -(-n // target))
        cents = kmeans_centroids_np(
            emb,
            n_cells=n_cells,
            n_iter=SEM_KMEANS_ITER,
            round_digits=9,
            train_sample_mod=mod,
        )
    # cents is already the collected driver-side codebook; pass it
    # straight through (r19: the createDataFrame+collect round trip
    # cost ~0.5 s of jobs per consuming query for identical rows).
    return embedding_semantic_dedup(
        emb,
        threshold=ND_THRESHOLD,
        n_cells=n_cells,
        centroids=cents,
    )


#: The cell-local dedup verdict as CTEs (consumes ``m`` + ``cent``
#: from ``_sql_kmeans_cent_ctes``), ending in ``sem`` (vec_id,
#: cluster_id, keep): argmax cell assignment (same desc-cos/asc-cell
#: tie-break as the Spark fold), within-cell near-dup edges,
#: recursive closure (edges are cell-local, so the global recursion
#: yields exactly the cell-local components), and zero-norm
#: singletons. Shared by the semantic_dedup oracle and the
#: semantic_recall eval (which replays the identical construction
#: over the eval window).
_SQL_SEM_CELL_CTES = f"""assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT m.vec_id, cent.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY m.vec_id
             ORDER BY list_dot_product(m.v, cent.cv) / (m.nm * cent.cnm) DESC,
                      cent.cell_id
           ) AS rn
    FROM m, cent WHERE m.nm > 0
  ) WHERE rn = 1
),
e AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a
  JOIN assign b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  JOIN m ma ON ma.vec_id = a.vec_id
  JOIN m mb ON mb.vec_id = b.vec_id
  WHERE list_dot_product(ma.v, mb.v) / (ma.nm * mb.nm) >= {ND_THRESHOLD}
),
edges AS (
  SELECT id_a AS v, id_b AS u FROM e
  UNION
  SELECT id_b AS v, id_a AS u FROM e
),
reach AS (
  SELECT vec_id AS v, vec_id AS r FROM m WHERE nm > 0
  UNION
  SELECT e2.v, reach.r FROM edges e2 JOIN reach ON reach.v = e2.u
),
sem AS (
  SELECT v AS vec_id,
         MIN(r) AS cluster_id,
         (MIN(r) = v) AS keep
  FROM reach GROUP BY v
  UNION ALL
  SELECT vec_id, vec_id AS cluster_id, TRUE AS keep FROM m WHERE nm = 0
)"""


def _sql_semantic_dedup() -> str:
    """Replays the FULL construction: the shared k-means trajectory
    CTEs at SEM_KMEANS_ITER, then the shared cell-verdict CTEs
    (``_SQL_SEM_CELL_CTES``)."""
    return f"""
WITH RECURSIVE {_sql_kmeans_cent_ctes(n_iter=SEM_KMEANS_ITER)},
{_SQL_SEM_CELL_CTES}
SELECT vec_id, cluster_id, keep FROM sem
"""


#: Eval window for semantic_recall's exact quadratic ground truth —
#: the EVAL_DOC_WINDOW pattern on embeddings: first SEM_EVAL_WINDOW
#: vectors by id (MIN-relative, non-zero-based-id safe). Covers the
#: whole table at the driver's sf0.01 (500) and sf0.1 (2,000) gates;
#: bounds the O(n²) truth to a constant beyond. 2048 also keeps the
#: windowed corpus inside the static tier (≤ SEM_ORACLE_MAX_N), so
#: the mirror is value-hash-exact at EVERY scale — no rows-only
#: downgrade for this eval.
SEM_EVAL_WINDOW = 2048

#: Truth tiers for the miss-rate readout: the operator's own edge
#: threshold (every pair it CLAIMS to consider) plus two tighter
#: cosine tiers, chosen INSIDE the corpus's actual cosine range —
#: the synthetic embeddings contain no true twins (max pair cosine
#: ≈0.51 at sf0.01 / ≈0.60 at sf0.1, measured r19), so 0.7/0.9 tiers
#: would be vacuously empty. These rates therefore characterize the
#: TAIL-PAIR regime (pairs far from identical, whose cell assignment
#: is inherently arbitrary — the pairs SemDeDup documents dropping by
#: design); the TWIN regime (the operator's real dedup target) is
#: covered by the r14 planted-twin probe: collapse recall 0.963 at
#: 50k vectors / 196 cells. Tier membership compares the
#: 6-dp-rounded cosine (both engines round identically), so a 1-ulp
#: cross-engine difference at a tier boundary cannot flip a row.
SEM_RECALL_TIERS = (ND_THRESHOLD, 0.45, 0.5)


def q_semantic_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cell miss-rate evaluation for semantic_dedup (VERDICT r18
    #3) — the dedup_recall pattern applied to the one shipped
    approximation that had no recall number: SemDeDup's cell-local
    closure misses duplicate pairs whose members coarse-quantize into
    DIFFERENT cells ("missed by design", Abbas et al., 2023 — the
    approximation that makes the op linear). This eval says HOW MANY:
    ground truth = the exact all-pairs cosine tier
    (embedding_near_dup) at ND_THRESHOLD over the SEM_EVAL_WINDOW
    corpus; a truth pair is CAUGHT iff semantic_dedup (as shipped, at
    ND_THRESHOLD) lands both members in the same cluster (clusters
    are cell-local components keyed by min member id, so
    same-cluster ⟺ same cell + connected — and a direct ≥threshold
    edge connects any same-cell truth pair). One row per
    SEM_RECALL_TIERS cosine tier: recall over truth pairs at-or-above
    that tier; the quoted cross-cell miss rate is 1 − recall per
    tier.

    Scale shape: the truth tier is O(n²) BY SEMANTICS — the window
    bounds it to a constant (the verdict is a rate, not a row set;
    at 100 TB you run this eval on a sample, exactly like
    dedup_recall). The semantic side is the shipped operator itself
    on the same windowed corpus (static tier: IVF_CELLS codebook,
    distributed decimal-exact Lloyd), so the number measures the
    production construction, not a simplified stand-in."""
    from energydatalake_spark.similarity.neardup import (
        embedding_near_dup,
        embedding_semantic_dedup,
    )
    from energydatalake_spark.similarity.search import kmeans_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    lo = emb.agg(F.min("vec_id")).scalar()
    embw = emb.filter(F.col("vec_id") < lo + F.lit(SEM_EVAL_WINDOW))
    cents = kmeans_centroids(
        embw,
        n_cells=IVF_CELLS,
        n_iter=SEM_KMEANS_ITER,
        round_digits=9,
        train_sample_mod=KMEANS_SAMPLE_MOD,
    )
    # cents is already the collected driver-side codebook; pass it
    # straight through (r19: the createDataFrame+collect round trip
    # cost ~0.5 s of jobs per consuming query for identical rows).
    # The verdict frame feeds TWO consumers (the id_a and id_b cluster
    # joins) — localCheckpoint so the cell pipeline does not replay.
    # The truth pairs feed exactly ONE consumer (the pairs join), so
    # they take no checkpoint (r20: Dataset.checkpoint plans+codegens
    # its subtree eagerly even with eager=False — a ~0.5 s per-build
    # driver cost that bought nothing here; the r19 comment claiming a
    # second consumer was wrong, n_truth comes from the per-tier
    # aggregate downstream of the join, not from a separate count).
    verdict = embedding_semantic_dedup(
        embw, threshold=ND_THRESHOLD, n_cells=IVF_CELLS, centroids=cents
    ).localCheckpoint(eager=False)
    truth = embedding_near_dup(embw, threshold=ND_THRESHOLD).select(
        "id_a", "id_b", _r(F.col("cosine"), 6).alias("cosine")
    )
    va = verdict.select(F.col("vec_id").alias("id_a"), F.col("cluster_id").alias("__ca"))
    vb = verdict.select(F.col("vec_id").alias("id_b"), F.col("cluster_id").alias("__cb"))
    pairs = (
        truth.join(va, "id_a")
        .join(vb, "id_b")
        .select("cosine", (F.col("__ca") == F.col("__cb")).alias("caught"))
    )
    tiers = spark.createDataFrame(
        [(float(t),) for t in SEM_RECALL_TIERS], "threshold double"
    )
    return (
        pairs.join(F.broadcast(tiers), F.col("cosine") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.count(F.when(F.col("caught"), F.lit(1))).alias("n_caught"),
        )
        .select(
            "threshold",
            "n_truth",
            "n_caught",
            (F.col("n_truth") - F.col("n_caught")).alias("n_missed"),
            _r(F.col("n_caught") / F.col("n_truth"), 6).alias("recall"),
        )
    )


def _sql_semantic_recall() -> str:
    """The full replay over the eval window: windowed trajectory +
    cell verdicts (the SAME shared CTEs as the semantic_dedup oracle,
    windowed), exact all-pairs truth with 6-dp cosine, same-cluster
    flag, per-tier counts. Window ≤ SEM_ORACLE_MAX_N ⇒ value-hash-
    exact at every scale (no rows-only downgrade)."""
    win = (
        f"vec_id < (SELECT MIN(vec_id) FROM embeddings) + {SEM_EVAL_WINDOW}"
    )
    tiers = ", ".join(f"({t})" for t in SEM_RECALL_TIERS)
    return f"""
WITH RECURSIVE {_sql_kmeans_cent_ctes(n_iter=SEM_KMEANS_ITER, where=win)},
{_SQL_SEM_CELL_CTES},
truth AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         FLOOR(list_dot_product(a.v, b.v) / (a.nm * b.nm) * 1000000.0 + 0.5)
           / 1000000.0 AS cosine
  FROM m a JOIN m b ON a.vec_id < b.vec_id
  WHERE a.nm > 0 AND b.nm > 0
    AND list_dot_product(a.v, b.v) / (a.nm * b.nm) >= {ND_THRESHOLD}
),
pairs AS (
  SELECT t.cosine, (sa.cluster_id = sb.cluster_id) AS caught
  FROM truth t
  JOIN sem sa ON sa.vec_id = t.id_a
  JOIN sem sb ON sb.vec_id = t.id_b
),
tiers AS (
  SELECT CAST(x AS DOUBLE) AS threshold FROM (VALUES {tiers}) v(x)
)
SELECT threshold,
       COUNT(*) AS n_truth,
       COUNT(*) FILTER (WHERE caught) AS n_caught,
       COUNT(*) - COUNT(*) FILTER (WHERE caught) AS n_missed,
       FLOOR(CAST(COUNT(*) FILTER (WHERE caught) AS DOUBLE) / COUNT(*)
             * 1000000.0 + 0.5) / 1000000.0 AS recall
FROM pairs p JOIN tiers ON p.cosine >= tiers.threshold
GROUP BY threshold
"""



#: Cramer formulas for the 3-feature normal equations, written ONCE as
#: SQL expression strings and parsed by BOTH engines (F.expr on the
#: Spark side, verbatim in DuckDB) — identical parse tree → identical
#: IEEE evaluation order → bit-identical weights from the exact moment
#: sums. Variables: n, s1, s2 (linear sums), q11, q12, q22 (quadratic),
#: b0, b1, b2 (label moments).
_PROBE_DET = (
    "n*(q11*q22 - q12*q12) - s1*(s1*q22 - q12*s2) + s2*(s1*q12 - q11*s2)"
)
_PROBE_DET0 = (
    "b0*(q11*q22 - q12*q12) - s1*(b1*q22 - q12*b2) + s2*(b1*q12 - q11*b2)"
)
_PROBE_DET1 = (
    "n*(b1*q22 - q12*b2) - b0*(s1*q22 - q12*s2) + s2*(s1*b2 - b1*s2)"
)
_PROBE_DET2 = (
    "n*(q11*b2 - b1*q12) - s1*(s1*b2 - b1*s2) + b0*(s1*q12 - q11*s2)"
)
_PROBE_SCORE = (
    f"(({_PROBE_DET0}) / ({_PROBE_DET}))"
    f" + (({_PROBE_DET1}) / ({_PROBE_DET})) * x1"
    f" + (({_PROBE_DET2}) / ({_PROBE_DET})) * x2"
)


def _probe_weights(env: dict[str, float]) -> tuple[float, float, float]:
    """Plain-Python twin of the `_PROBE_DET*` expression strings
    (which remain the single source for both SQL engines). The Python
    expressions mirror the strings token-for-token, so operator
    precedence — and hence IEEE evaluation order and the literal
    weights — stays bit-identical to an `F.expr`/DuckDB parse, without
    the `eval()` footgun the r7 verdict flagged. Pinned bit-exact
    against the strings by
    tests/test_corpus_ops.py::test_probe_weights_match_formula_strings.
    """
    n, s1, s2 = env["n"], env["s1"], env["s2"]
    q11, q12, q22 = env["q11"], env["q12"], env["q22"]
    b0, b1, b2 = env["b0"], env["b1"], env["b2"]
    det = (
        n*(q11*q22 - q12*q12) - s1*(s1*q22 - q12*s2) + s2*(s1*q12 - q11*s2)
    )
    w0 = (
        b0*(q11*q22 - q12*q12) - s1*(b1*q22 - q12*b2) + s2*(b1*q12 - q11*b2)
    ) / det
    w1 = (
        n*(b1*q22 - q12*b2) - b0*(s1*q22 - q12*s2) + s2*(s1*b2 - b1*s2)
    ) / det
    w2 = (
        n*(q11*b2 - b1*q12) - s1*(s1*b2 - b1*s2) + b0*(s1*q12 - q11*s2)
    ) / det
    return w0, w1, w2



def _probe_features(docs: DataFrame) -> DataFrame:
    """Integer-quantized probe features (shared by the batch trainer
    and the streaming scorer — both sides of the model must see
    byte-identical feature arithmetic)."""
    from energydatalake_spark.text.stats import text_stats

    st = text_stats(docs, keep_cols=("lang",))
    return st.select(
        "doc_id",
        "lang",
        F.floor(F.col("n_stopwords") * 1000000.0 / F.col("n_tokens"))
        .cast("bigint")
        .alias("x1"),
        F.floor(F.col("n_chars") * 1000.0 / F.col("n_tokens"))
        .cast("bigint")
        .alias("x2"),
        (F.col("lang") == "en").cast("bigint").alias("y"),
    )


def q_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed training + scoring of a linear quality probe — the
    fastText-style classifier stage of LLM-corpus curation, as a
    linear probability model so the whole thing is engine-exact: fit
    y ≈ w0 + w1·x1 + w2·x2 where y = 1[lang='en'], x1 = stopword
    fraction (integer micro-units), x2 = mean word length (integer
    milli-units), via one-pass normal equations + closed-form Cramer
    solve.

    Determinism engineering: features are integer-quantized BEFORE any
    aggregation, so the nine moment sums are exact integers in both
    engines (quadratics in DECIMAL(38,0) / HUGEINT, the trend_fit
    width); the Cramer solve and the per-document score are ONE shared
    SQL expression string parsed by both engines — same parse tree,
    same IEEE order, bit-identical output. Scale shape: the feature
    frame is localCheckpointed (4 narrow columns) so the corpus
    tokenization runs once; moments are a map-side-partial aggregate
    collapsing to ONE row, broadcast back as the canonical 1-row
    scalar re-attach; scoring is a per-row expression."""
    from energydatalake_spark.text.stats import text_stats

    docs = read_table(spark, sf_dir, "documents")
    feats = _probe_features(docs).localCheckpoint(eager=False)
    d38 = "decimal(38,0)"
    mom = feats.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum(F.col("x1").cast(d38) * F.col("x1")).cast("double").alias("q11"),
        F.sum(F.col("x1").cast(d38) * F.col("x2")).cast("double").alias("q12"),
        F.sum(F.col("x2").cast(d38) * F.col("x2")).cast("double").alias("q22"),
        F.sum("y").cast("double").alias("b0"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("b1"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("b2"),
    )
    scored = feats.crossJoin(F.broadcast(mom)).select(
        "doc_id",
        "lang",
        "x1",
        "x2",
        "y",
        _r(F.expr(_PROBE_SCORE), 6).alias("score"),
    )
    return scored.withColumn("predicted", F.col("score") >= 0.5)


def _sql_quality_probe() -> str:
    return f"""
{_sql_stats_m_cte("doc_id, lang")},
f AS (
  SELECT doc_id, lang,
         CAST(FLOOR(nstop * 1000000.0 / nt) AS BIGINT) AS x1,
         CAST(FLOOR(nc * 1000.0 / nt) AS BIGINT) AS x2,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
  FROM m
),
mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x1) AS DOUBLE) AS s1,
         CAST(SUM(x2) AS DOUBLE) AS s2,
         CAST(CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS VARCHAR) AS DOUBLE) AS q11,
         CAST(CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS VARCHAR) AS DOUBLE) AS q12,
         CAST(CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS VARCHAR) AS DOUBLE) AS q22,
         CAST(SUM(y) AS DOUBLE) AS b0,
         CAST(SUM(x1 * y) AS DOUBLE) AS b1,
         CAST(SUM(x2 * y) AS DOUBLE) AS b2
  FROM f
)
SELECT doc_id, lang, x1, x2, y,
       FLOOR(({_PROBE_SCORE}) * 1000000.0 + 0.5) / 1000000.0 AS score,
       FLOOR(({_PROBE_SCORE}) * 1000000.0 + 0.5) / 1000000.0 >= 0.5
         AS predicted
FROM f CROSS JOIN mom
"""



def q_streaming_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate inference on a STREAM — the ingest-time shape of
    `quality_probe`: the linear model is trained in one batch pass
    (exact moments → Cramer weights, evaluated in Python from the
    SAME formula strings the SQL oracle parses, so the literal
    weights are bit-identical to the oracle's), then every streamed
    document is scored per micro-batch with pure per-row expressions
    (append mode — no state, no shuffle on the stream). This is how a
    100 TB deployment gates a firehose with a model trained on
    yesterday's corpus: train batch-side, broadcast literal weights,
    score in-line."""
    from energydatalake_spark.io.readers import read_table_stream
    from energydatalake_spark.streaming.windows import run_stream_to_memory

    docs = read_table(spark, sf_dir, "documents")
    d38 = "decimal(38,0)"
    mom = (
        _probe_features(docs)
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x1").cast("double").alias("s1"),
            F.sum("x2").cast("double").alias("s2"),
            F.sum(F.col("x1").cast(d38) * F.col("x1"))
            .cast("double")
            .alias("q11"),
            F.sum(F.col("x1").cast(d38) * F.col("x2"))
            .cast("double")
            .alias("q12"),
            F.sum(F.col("x2").cast(d38) * F.col("x2"))
            .cast("double")
            .alias("q22"),
            F.sum("y").cast("double").alias("b0"),
            F.sum(F.col("x1") * F.col("y")).cast("double").alias("b1"),
            F.sum(F.col("x2") * F.col("y")).cast("double").alias("b2"),
        )
        .collect()[0]
    )
    env = {k: float(mom[k]) for k in mom.asDict()}
    w0, w1, w2 = _probe_weights(env)

    stream = read_table_stream(spark, sf_dir, "documents")
    scored = _probe_features(stream).select(
        "doc_id",
        "lang",
        "x1",
        "x2",
        "y",
        _r(
            F.lit(w0) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2"), 6
        ).alias("score"),
    )
    scored = scored.withColumn("predicted", F.col("score") >= 0.5)
    _LLM_STREAM_SEQ[0] += 1
    return run_stream_to_memory(
        spark,
        scored,
        f"stream_quality_{_LLM_STREAM_SEQ[0]}",
        "append",
        timeout_sec=120.0,
        shuffle_partitions=8,
    )


_LLM_STREAM_SEQ = [0]



def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival funnel through the round's four curation gates —
    trained quality probe (predicted ≥ 0.5), perplexity bucket (not
    'tail'), per-domain cap, and line-dedup content retention (≥ half
    the lines survive) — applied cumulatively in that order: the
    corpus_funnel twin for the model/line-structured cleaning stages.
    One conditional-count aggregate over the joined per-doc verdict
    frames; each gate is itself an oracled registry query, so this
    composition's value hash transitively pins all four."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    qp = q_quality_probe(spark, sf_dir).select("doc_id", "predicted")
    lb = q_lm_buckets(spark, sf_dir).select("doc_id", "bucket")
    sc = q_source_cap(spark, sf_dir).select("doc_id", "kept")
    ld = q_line_dedup(spark, sf_dir).select("doc_id", "n_lines", "n_kept")
    flags = (
        docs.join(qp, "doc_id", "left")
        .join(lb, "doc_id", "left")
        .join(sc, "doc_id", "left")
        .join(ld, "doc_id", "left")
        .select(
            F.coalesce(F.col("predicted"), F.lit(False)).alias("q_ok"),
            # docs with no LM signal (<2 tokens) pass the bucket gate
            F.coalesce(F.col("bucket") != "tail", F.lit(True)).alias("lm_ok"),
            F.coalesce(F.col("kept"), F.lit(False)).alias("cap_ok"),
            (F.col("n_kept") * 2 >= F.col("n_lines")).alias("ld_ok"),
        )
    )
    c = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        c(F.col("q_ok")).alias("n_after_quality"),
        c(F.col("q_ok") & F.col("lm_ok")).alias("n_after_lm"),
        c(F.col("q_ok") & F.col("lm_ok") & F.col("cap_ok")).alias(
            "n_after_cap"
        ),
        c(
            F.col("q_ok")
            & F.col("lm_ok")
            & F.col("cap_ok")
            & F.col("ld_ok")
        ).alias("n_after_line_dedup"),
    )


def _sql_curation_funnel() -> str:
    return f"""
WITH qp AS ({_sql_quality_probe()}),
lb AS ({SQL_LM_BUCKETS}),
sc AS ({_sql_source_cap()}),
ld AS ({SQL_LINE_DEDUP}),
flags AS (
  SELECT COALESCE(qp.predicted, FALSE) AS q_ok,
         COALESCE(lb.bucket <> 'tail', TRUE) AS lm_ok,
         COALESCE(sc.kept, FALSE) AS cap_ok,
         (ld.n_kept * 2 >= ld.n_lines) AS ld_ok
  FROM documents d
  LEFT JOIN qp USING (doc_id)
  LEFT JOIN lb USING (doc_id)
  LEFT JOIN sc USING (doc_id)
  LEFT JOIN ld USING (doc_id)
)
SELECT COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_quality,
       CAST(SUM(CASE WHEN q_ok AND lm_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_lm,
       CAST(SUM(CASE WHEN q_ok AND lm_ok AND cap_ok THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_cap,
       CAST(SUM(CASE WHEN q_ok AND lm_ok AND cap_ok AND ld_ok
                THEN 1 ELSE 0 END) AS BIGINT) AS n_after_line_dedup
FROM flags
"""


LLM_QUERIES: list[tuple[str, object, str | None, str]] = [
    ("tfidf_topk", q_tfidf_topk, SQL_TFIDF_TOPK, "ext:tfidf-keywords"),
    ("source_profile", q_source_profile, SQL_SOURCE_PROFILE,
     "ext:dataset-card-rollup"),
    ("corpus_funnel", q_corpus_funnel, _sql_corpus_funnel(),
     "ext:quality-funnel composition"),
    ("corpus_increment", q_corpus_increment, _sql_corpus_increment(),
     "ext:incremental-ingest-dedup"),
    ("corpus_increment_batch", q_corpus_increment_batch,
     _sql_corpus_increment_batch(), "ext:incremental-ingest intra-batch"),
    ("boilerplate_filter", q_boilerplate_filter, SQL_BOILERPLATE_FILTER,
     "ext:boilerplate-phrase-filter"),
    ("line_dedup", q_line_dedup, SQL_LINE_DEDUP, "ext:line-frequency-dedup"),
    ("substring_dedup", q_substring_dedup, SQL_SUBSTRING_DEDUP,
     "ext:duplicate-span-removal"),
    ("hashed_tfidf", q_hashed_tfidf, SQL_HASHED_TFIDF,
     "ext:feature-hashing-vectorizer"),
    ("lm_score", q_lm_score, SQL_LM_SCORE, "ext:bigram-lm-quality"),
    ("lm_buckets", q_lm_buckets, SQL_LM_BUCKETS, "ext:perplexity-buckets"),
    ("quality_probe", q_quality_probe, _sql_quality_probe(),
     "ext:linear-quality-classifier"),
    ("streaming_quality", q_streaming_quality, _sql_quality_probe(),
     "ext:streaming-quality-gate"),
    ("curation_funnel", q_curation_funnel, _sql_curation_funnel(),
     "ext:curation-funnel composition"),
    ("embedding_clusters", q_embedding_clusters, SQL_EMBEDDING_CLUSTERS,
     "ext:embedding-clustering"),
    ("embedding_clusters_kmeans", q_embedding_clusters_kmeans,
     _sql_embedding_clusters_kmeans(), "ext:embedding-clustering-trained"),
    ("doc_outliers", q_doc_outliers, SQL_DOC_OUTLIERS, "ext:length-outlier-trim"),
    ("doc_repetition", q_doc_repetition, SQL_DOC_REPETITION,
     "ext:repetition-quality"),
    ("contamination", q_contamination, SQL_CONTAMINATION,
     "ext:benchmark-decontamination"),
    ("corpus_mix", q_corpus_mix, SQL_CORPUS_MIX, "ext:domain-mix-upsample"),
    ("source_cap", q_source_cap, _sql_source_cap(), "ext:domain-cap-downsample"),
    ("dedup_clusters", q_dedup_clusters, _sql_dedup_clusters(),
     "ext:dedup-cluster-cc"),
    ("vocab_topk", q_vocab_topk, SQL_VOCAB_TOPK, "ext:vocab-counts"),
    ("vocab_coverage", q_vocab_coverage, SQL_VOCAB_COVERAGE,
     "ext:vocab-oov-coverage"),
    ("shuffle_shards", q_shuffle_shards, _sql_shuffle_shards(),
     "ext:global-shuffle"),
    ("text_stats", q_text_stats, SQL_TEXT_STATS, "ext:text-stats"),
    ("token_count", q_token_count, SQL_TOKEN_COUNT, "ext:token-count"),
    ("dedup_embedding", q_dedup_embedding, SQL_DEDUP_EMBEDDING, "ext:dedup-embedding"),
    ("semantic_dedup", q_semantic_dedup, _sql_semantic_dedup(),
     "ext:semantic-dedup keep-one"),
    ("semantic_recall", q_semantic_recall, _sql_semantic_recall(),
     "ext:semantic-dedup cross-cell miss-rate eval"),
    ("dedup_embedding_lsh", q_dedup_embedding_lsh, SQL_DEDUP_EMBEDDING_LSH,
     "ext:dedup-embedding-lsh scale path"),
    ("multimodal_decode", q_multimodal_decode, SQL_MULTIMODAL_DECODE, "ext:multimodal"),
    ("multimodal_resize", q_multimodal_resize, SQL_MULTIMODAL_RESIZE, "ext:multimodal"),
    ("multimodal_frames", q_multimodal_frames, SQL_MULTIMODAL_FRAMES,
     "ext:multimodal frame-sample"),
    ("multimodal_embed", q_multimodal_embed, SQL_MULTIMODAL_EMBED,
     "ext:multimodal feature-extract"),
    ("lang_id", q_lang_id, SQL_LANG_ID, "ext:lang-id"),
    ("doc_fingerprint", q_fingerprints, SQL_FINGERPRINTS, "ext:fingerprint"),
    ("dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT, "ext:dedup-exact"),
    ("minhash_pairs", q_minhash_pairs, SQL_MINHASH_PAIRS, "ext:dedup-minhash-lsh"),
    ("ngram_jaccard", q_ngram_jaccard, SQL_NGRAM_JACCARD, "ext:dedup-ngram-jaccard"),
    ("dedup_recall", q_dedup_recall, _sql_dedup_recall(),
     "ext:dedup-lsh-recall-eval"),
    ("simhash", q_simhash, SQL_SIMHASH, "ext:dedup-simhash"),
    ("simhash_pairs", q_simhash_pairs, SQL_SIMHASH_PAIRS, "ext:dedup-simhash-pairs"),
    ("similarity_topk", q_similarity_topk, SQL_SIMILARITY_TOPK, "ext:ann-bruteforce"),
    ("similarity_lsh", q_similarity_lsh, SQL_SIMILARITY_LSH, "ext:ann-lsh"),
    ("ann_recall", q_ann_recall, _sql_ann_recall(), "ext:ann-recall-eval"),
    ("ivf_recall", q_ivf_recall, _sql_recall_vs_exact(SQL_SIMILARITY_IVF),
     "ext:ivf-recall-eval"),
    ("quantized_recall", q_quantized_recall, _sql_quantized_recall(),
     "ext:int8-quantization-recall"),
    ("similarity_ivf", q_similarity_ivf, SQL_SIMILARITY_IVF, "ext:ann-ivf"),
    (
        "similarity_ivf_kmeans",
        q_similarity_ivf_kmeans,
        SQL_SIMILARITY_IVF_KMEANS,
        "ext:ann-ivf-kmeans",
    ),
    ("corpus_prep", q_corpus_prep, SQL_CORPUS_PREP, "ext:corpus-prep composition"),
    ("train_split", q_train_split, SQL_TRAIN_SPLIT, "ext:hash-split"),
    ("stratified_sample", q_stratified_sample, SQL_STRATIFIED_SAMPLE,
     "ext:stratified-sample"),
    ("doc_chunks", q_doc_chunks, SQL_DOC_CHUNKS, "ext:context-window-chunking"),
    ("text_normalize", q_text_normalize, SQL_TEXT_NORMALIZE,
     "ext:text-normalize pii-mask"),
    ("pack_chunks", q_pack_chunks, SQL_PACK_CHUNKS, "ext:sequence-packing"),
    ("corpus_prep_full", q_corpus_prep_full, SQL_CORPUS_PREP_FULL,
     "ext:corpus-prep-full normalize→dedup→filter→split→chunk→pack"),
]
