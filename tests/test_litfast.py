"""Pins for the r19 optimization round's rendered-SQL expression forms.

Every helper here replaced an element-wise Column construction with a
single parsed SQL expression for driver-time reasons only — these tests
pin that the rendered form produces BIT-IDENTICAL values to the
element-wise ``F.lit``/Column form it replaced, so a Spark upgrade that
changed parser/typing semantics would fail loudly rather than silently
drift the oracle."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

TRICKY_DOUBLES = [
    0.1,
    -0.0,
    1e-300,
    -1e-300,
    1.7976931348623157e308,  # DBL_MAX
    5e-324,  # min subnormal
    123456789.123456789,
    1.2345678901234567e-5,
    -2.5,
    3.0,
    1e16,
]


def _bits(xs):
    return [struct.pack("d", float(x)) for x in xs]


def test_lit_double_array_bit_identical(spark):
    from energydatalake_spark.similarity.search import lit_double_array

    df = spark.range(1)
    old = df.select(F.lit(TRICKY_DOUBLES).alias("a")).first()["a"]
    new = df.select(lit_double_array(TRICKY_DOUBLES).alias("a")).first()["a"]
    assert _bits(old) == _bits(new)


def test_lit_double_matrix_and_int_array(spark):
    from energydatalake_spark.similarity.search import (
        lit_double_matrix,
        lit_int_array,
    )

    df = spark.range(1)
    mat = [TRICKY_DOUBLES, [x / 3 for x in TRICKY_DOUBLES]]
    old = df.select(F.lit(mat).alias("a"))
    new = df.select(lit_double_matrix(mat).alias("a"))
    assert old.schema == new.schema
    assert [_bits(r) for r in old.first()["a"]] == [
        _bits(r) for r in new.first()["a"]
    ]
    ints = [0, 1, -5, 2**31 - 1]
    o = df.select(F.lit(ints).alias("a"))
    n = df.select(lit_int_array(ints).alias("a"))
    assert o.schema == n.schema and o.first()["a"] == n.first()["a"]


def test_lit_helpers_reject_non_finite(spark):
    import pytest as _pytest

    from energydatalake_spark.similarity.search import lit_double_array

    for bad in (float("nan"), float("inf"), float("-inf")):
        with _pytest.raises(ValueError):
            lit_double_array([1.0, bad])


def test_minhash_sig_cols_match_column_form(spark):
    """Rendered signature aggregates == the pre-r19 element-wise form."""
    from energydatalake_spark.text.dedup import (
        PERM_MASK,
        _minhash_sig_cols,
        _perm_constants,
    )

    k = 8
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate([0, 1, 2**31, 2**32 - 1, 12345678901])],
        "doc_id long, h0 long",
    )
    new = df.groupBy("doc_id").agg(*_minhash_sig_cols(k))
    perm_a, perm_b = _perm_constants(k)
    old = df.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(perm_a[i]) * F.col("h0") + F.lit(perm_b[i])).bitwiseAND(
                    F.lit(PERM_MASK)
                )
            ).alias(f"m{i}")
            for i in range(k)
        ]
    )
    assert new.schema == old.schema
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_simhash_vote_fold_match_column_form(spark):
    """Rendered vote/fold SQL == the pre-r19 Column chain."""
    from energydatalake_spark.text.dedup import (
        _sql_simhash_fold,
        _sql_simhash_vote,
    )

    bits = 12
    df = spark.createDataFrame(
        [(d, h) for d, h in [(1, 0b101), (1, 0b110), (2, 0), (2, 2**59)]],
        "doc_id long, hv long",
    )
    new = df.groupBy("doc_id").agg(
        *[F.expr(_sql_simhash_vote("hv", j) + f" AS v{j}") for j in range(bits)]
    ).select("doc_id", F.expr(_sql_simhash_fold("v", bits) + " AS simhash"))
    old_votes = df.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("hv"), j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    fp = F.lit(0).cast("bigint")
    for j in range(bits):
        fp = fp + F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(0)
    old = old_votes.select("doc_id", fp.cast("bigint").alias("simhash"))
    assert new.schema == old.schema
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_bucket_matches_column_form(spark):
    """Rendered sign-LSH bucket key == the pre-r19 Column chain,
    including the NULL-vector case (CASE ELSE 0 == otherwise(0))."""
    from energydatalake_spark.similarity.search import (
        _bucket,
        _hyperplanes,
        dot,
        lit_double_array,
    )

    planes = _hyperplanes(dim=4, n_planes=5, seed=11)
    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5, 3.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [-1.5, 2.5, -0.25, 1e-3]),
            (4, None),
        ],
        "id long, vec array<double>",
    )
    bits = [
        F.when(dot(F.col("vec"), lit_double_array(p)) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        for p in planes
    ]
    key = F.lit(0).cast("bigint")
    for i, b in enumerate(bits):
        key = key + (b.cast("bigint") * F.lit(1 << i))
    old = df.select("id", key.alias("bucket"))
    new = df.select("id", _bucket("vec", planes).alias("bucket"))
    assert new.schema == old.schema
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_collect_codebook_rows_list_passthrough(spark):
    """The list form of ``centroids`` returns exactly what the
    DataFrame round trip produced."""
    from energydatalake_spark.similarity.search import _collect_codebook_rows

    cents = [(3, [0.5, -1.5]), (1, [2.0, 0.25])]
    cent_df = spark.createDataFrame(
        cents, "vec_id int, embedding array<double>"
    )
    via_df = _collect_codebook_rows(
        None, cent_df, 2, "embedding", "vec_id", "t"
    )
    via_list = _collect_codebook_rows(
        None, cents, 2, "embedding", "vec_id", "t"
    )
    assert via_df == via_list == [(1, [2.0, 0.25]), (3, [0.5, -1.5])]


def test_cached_expr_identity_and_equivalence(spark):
    """r20: the per-session parse cache must hand back the SAME Column
    object for a byte-identical text (the win is skipping the parse)
    and that object must evaluate exactly like a fresh F.expr — also
    when one cached Column is reused inside two different plans."""
    from energydatalake_spark.portable import _EXPR_CACHE, cached_expr

    sql = "array(0.1D, -0.0D, 1.7976931348623157e308D)"
    c1 = cached_expr(sql)
    c2 = cached_expr(sql)
    assert c1 is c2  # no second parse
    assert sql in _EXPR_CACHE

    df = spark.range(1)
    fresh = df.select(F.expr(sql).alias("a")).first()["a"]
    cached = df.select(c1.alias("a")).first()["a"]
    assert _bits(fresh) == _bits(cached)
    # same cached object in a second, differently-shaped plan
    two = spark.range(2).select(c1.alias("a"), "id").collect()
    assert all(_bits(r["a"]) == _bits(fresh) for r in two)


def test_cached_expr_evicts_only_oldest_on_overflow(spark, monkeypatch):
    """Past its cap the parse cache drops only its oldest entry (dict
    insertion order): one new text must not force a re-parse of every
    warm one."""
    from energydatalake_spark import portable

    monkeypatch.setattr(portable, "MEMO_MAX", 3)
    monkeypatch.setattr(portable, "_EXPR_CACHE", {})
    texts = [f"{i} + 1" for i in range(5)]
    cols = [portable.cached_expr(t) for t in texts]
    assert list(portable._EXPR_CACHE) == texts[2:]
    assert all(portable.cached_expr(t) is c for t, c in zip(texts[2:], cols[2:]))
    assert portable.cached_expr(texts[0]) is not cols[0]  # evicted, re-parsed
