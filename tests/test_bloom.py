"""Unit tests for operators/bloom.py: exactness of the prefiltered joins
against plain semi/anti joins (both membership modes), no-false-negatives,
false-positive-rate sanity, driver/engine membership parity, and edge cases."""

import pytest
from pyspark.sql import functions as F

from lantern_extras_spark.operators import bloom as BL


@pytest.fixture(scope="module")
def frames(spark):
    big = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    ).cache()
    keys = spark.range(0, 5000, 13).select(F.col("id").alias("k")).cache()
    big.count(), keys.count()
    return big, keys


def test_semi_exact_all_modes(spark, frames, monkeypatch):
    big, keys = frames
    want = sorted(r["k"] for r in big.join(keys, "k", "left_semi").collect())
    for mode in ("literal", "subquery", "broadcast"):
        got = sorted(
            r["k"] for r in BL.bloom_semi_join(big, keys, "k", mode=mode).collect()
        )
        assert got == want, mode
    # auto past the literal tier takes the broadcast probe
    monkeypatch.setattr(BL, "LITERAL_MAX_WORDS", 0)
    auto = big.where(BL.bloom_might_contain(BL.bloom_build(keys, "k"), "k"))
    assert "ArrowEvalPython" in auto._jdf.queryExecution().executedPlan().toString()
    assert sorted(r["k"] for r in auto.join(keys, "k", "left_semi").collect()) == want


def test_subquery_mode_keeps_plan_small(spark, frames):
    """r13: a mid-sized bitmap must ride a scalar subquery, not a plan
    literal — the literal form repeated the whole word array once per
    double-hash probe (bloom_semi_join's plan measured 1.2 MB of text).
    Pin: for a filter above LITERAL_MAX_WORDS (where auto picks broadcast
    and `decontaminate` requests subquery explicitly), the subquery probe
    plan stays orders of magnitude below the literal's footprint, and
    membership is bit-identical to the literal path."""
    big, _ = frames
    keys = spark.range(0, 40000, 7).select(F.col("id").alias("k"))
    bf = BL.bloom_build(keys, "k")
    assert len(bf.words) > BL.LITERAL_MAX_WORDS  # mid-sized: past the literal tier
    sub = big.where(BL.bloom_might_contain(bf, "k", mode="subquery"))
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "Subquery" in plan
    # a literal plan for this filter is >400 KB; the subquery plan is ~KBs
    assert len(plan) < 50_000, len(plan)
    lit = big.where(BL.bloom_might_contain(bf, "k", mode="literal"))
    assert sorted(r["k"] for r in sub.collect()) == sorted(r["k"] for r in lit.collect())


def test_driver_build_matches_distributed_build(spark, frames):
    """r13: the driver-side numpy build (n <= DRIVER_BUILD_MAX_KEYS) must
    produce the BIT-IDENTICAL word array the distributed explode/bit_or
    build produces, for both hash kinds."""
    _, keys = frames
    for kind in ("xxhash64", "md5"):
        fast = BL.bloom_build(keys, "k", hash_kind=kind)
        old_cap = BL.DRIVER_BUILD_MAX_KEYS
        BL.DRIVER_BUILD_MAX_KEYS = 0  # force the distributed path
        try:
            slow = BL.bloom_build(keys, "k", hash_kind=kind)
        finally:
            BL.DRIVER_BUILD_MAX_KEYS = old_cap
        assert (fast.m, fast.k, fast.n) == (slow.m, slow.k, slow.n), kind
        assert fast.words == slow.words, kind


def test_md5_subquery_falls_back_to_conjunction(spark, frames):
    """Explicit md5+subquery cannot use the fold (no subqueries inside
    higher-order lambdas) — it must still answer identically via the
    conjunction form, and auto must never route md5 to subquery."""
    _, keys = frames
    bf = BL.bloom_build(keys, "k", hash_kind="md5")
    df = keys.withColumnRenamed("k", "kk")
    n_sub = df.where(BL.bloom_might_contain(bf, "kk", mode="subquery")).count()
    n_lit = df.where(BL.bloom_might_contain(bf, "kk", mode="literal")).count()
    assert n_sub == n_lit == keys.count()  # no false negatives either way


def test_anti_exact_and_partition(spark, frames):
    big, keys = frames
    want = sorted(r["k"] for r in big.join(keys, "k", "left_anti").collect())
    got_df = BL.bloom_anti_join(big, keys, "k")
    got = sorted(r["k"] for r in got_df.collect())
    assert got == want
    # anti + semi partition the big side
    n_semi = BL.bloom_semi_join(big, keys, "k").count()
    assert n_semi + got_df.count() == big.count()


def test_no_false_negatives_and_fp_rate(spark, frames):
    big, keys = frames
    bf = BL.bloom_build(keys, "k")
    # every true member must pass the prefilter
    members = keys.withColumnRenamed("k", "kk")
    passed = members.where(BL.bloom_might_contain(bf, "kk", mode="literal")).count()
    assert passed == keys.count()
    # measured FP rate on disjoint keys is near theory (theory ~1% at 10 b/k)
    outside = spark.range(1_000_000, 1_020_000).select(F.col("id").alias("kk"))
    fp = outside.where(BL.bloom_might_contain(bf, "kk", mode="literal")).count()
    assert fp / 20_000 < max(0.05, 5 * bf.fp_rate_estimate)


def test_driver_engine_membership_parity_md5(spark, frames):
    """The md5 hash kind is the portable one: Python positions must equal the
    engine's in BOTH membership modes."""
    _, keys = frames
    bf = BL.bloom_build(keys, "k", hash_kind="md5")
    sample = [r["k"] for r in keys.limit(20).collect()] + [999983, 999979]
    df = spark.createDataFrame([(v,) for v in sample], "kk long")
    for mode in ("literal", "broadcast"):
        eng = {
            r["kk"]: r["m"]
            for r in df.select(
                "kk", BL.bloom_might_contain(bf, "kk", mode=mode).alias("m")
            ).collect()
        }
        for v in sample:
            assert bf.contains_py(str(v)) == eng[v], (mode, v)


def test_contains_py_rejects_engine_only_hash(spark, frames):
    _, keys = frames
    bf = BL.bloom_build(keys, "k")  # default xxhash64
    with pytest.raises(NotImplementedError, match="md5"):
        bf.contains_py("1")


def test_both_hash_kinds_give_exact_joins(spark, frames):
    big, keys = frames
    want = sorted(r["k"] for r in big.join(keys, "k", "left_semi").collect())
    for kind in ("xxhash64", "md5"):
        got = sorted(
            r["k"]
            for r in BL.bloom_semi_join(big, keys, "k", hash_kind=kind).collect()
        )
        assert got == want, kind


def test_inexact_mode_is_superset(spark, frames):
    big, keys = frames
    exact = {r["k"] for r in BL.bloom_semi_join(big, keys, "k").collect()}
    loose = {r["k"] for r in BL.bloom_semi_join(big, keys, "k", exact=False).collect()}
    assert exact <= loose


def test_empty_keys(spark, frames):
    big, _ = frames
    empty = big.sparkSession.range(0).select(F.col("id").alias("k"))
    assert BL.bloom_semi_join(big, empty, "k").count() == 0
    assert BL.bloom_anti_join(big, empty, "k").count() == big.count()


def test_bad_geometry_raises(spark, frames):
    _, keys = frames
    with pytest.raises(ValueError, match="power of two"):
        BL.bloom_build(keys, "k", m_bits=1000)


def test_anti_join_guards_preexisting_m_column(spark, frames):
    """single_scan stages a __m flag; a pre-existing __m would be silently
    overwritten and dropped from the output — must raise instead (same
    guard class as salted_join's __salt)."""
    big, keys = frames
    clash = big.withColumn("__m", F.lit("user-data"))
    with pytest.raises(ValueError, match="__m column already exists"):
        BL.bloom_anti_join(clash, keys, "k")
    # the two-scan form never stages __m, so it must still work
    out = BL.bloom_anti_join(clash, keys, "k", single_scan=False)
    assert "__m" in out.columns
    assert out.count() == big.join(keys, "k", "left_anti").count()


def test_semi_inexact_does_not_leak_cached_relation(spark, frames):
    """With exact=False the distinct-key frame is not referenced by the
    returned plan — it must be unpersisted before returning, not left to
    LRU eviction (one leaked relation per call otherwise)."""
    big, keys = frames
    sc = spark.sparkContext
    n_cached = lambda: sc._jsc.sc().getPersistentRDDs().size()
    before = n_cached()
    BL.bloom_semi_join(big, keys, "k", exact=False).count()
    assert n_cached() <= before
