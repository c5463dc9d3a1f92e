"""Skew operators: the bloom semi-join's exactness and plan shape."""

from __future__ import annotations

from zacks_estimates_financial_statements_spark.operators import skew


def test_bloom_semi_join_exact_and_sound(spark):
    """bloom_semi_join must be byte-equal to the plain join (no false
    negatives; false positives die in the exact join), reject unsound
    outer flavors, and keep working when the filter side is empty."""
    import pytest
    from pyspark.sql import functions as F

    large = spark.range(5000).select(
        (F.col("id") % 700).alias("k"), F.col("id").alias("v"))
    small = spark.range(120).select(
        (F.col("id") * 5).alias("k"), F.concat(F.lit("s"), F.col("id"))
        .alias("name"))
    plain = large.join(small, ["k"], "inner")
    bl = skew.bloom_semi_join(large, small, "k", "inner")
    assert sorted(map(tuple, bl.collect())) == \
        sorted(map(tuple, plain.collect()))
    # left_semi flavor
    ps = large.join(small, ["k"], "left_semi")
    bs = skew.bloom_semi_join(large, small, "k", "left_semi")
    assert sorted(map(tuple, bs.collect())) == \
        sorted(map(tuple, ps.collect()))
    # a key set big enough for the bitmap to false-positive (~4% at
    # 150k keys): odd probe keys never match the even keys, so every
    # row that passes the filter is a false positive the join drops
    evens = spark.range(150_000).select((F.col("id") * 2).alias("k"))
    odds = spark.range(40_000).select((F.col("id") * 2 + 1).alias("k"))
    assert skew.bloom_semi_join(odds, evens, "k", "inner").count() == 0
    with pytest.raises(ValueError, match="inner/left_semi"):
        skew.bloom_semi_join(large, small, "k", "left")
    # empty filter side: empty result, no crash
    assert skew.bloom_semi_join(
        large, small.filter("k < 0"), "k", "inner").count() == 0


def test_bloom_semi_join_design_point_plan_smj(spark):
    """Pin the plan at the operator's DESIGN POINT — the filter side
    too big to broadcast: the final join must be a SortMergeJoin (not
    BHJ), the bloom probe must still be the 1-row-broadcast BNLJ
    filter sitting BELOW the probe side's Exchange (rows drop before
    they shuffle), and no CartesianProduct. Mirrors what
    tools/bloom_study.py measures at 10M x 100k."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        large = spark.range(20000).select(
            (F.col("id") % 5000).alias("k"), F.col("id").alias("v"))
        small = spark.range(500).select(
            (F.col("id") * 10).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"))
        bl = skew.bloom_semi_join(large, small, "k", "inner")
        plan = bl._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan, plan[:800]
        assert plan.count("BroadcastNestedLoopJoin") == 1
        lines = plan.splitlines()
        bidx = [i for i, ln in enumerate(lines)
                if "BroadcastNestedLoopJoin" in ln and "element_at" in ln]
        assert bidx, "bloom probe condition missing from the BNLJ"
        # the probe-side SMJ Exchange sits ABOVE the BNLJ filter: an
        # Exchange appears before (above) the BNLJ in the tree, and
        # between BNLJ and the range source there is none
        pre = lines[:bidx[0]]
        assert any("Exchange hashpartitioning(k" in ln for ln in pre), \
            "probe Exchange not found above the bloom filter"
        post = lines[bidx[0] + 1:]
        src = [i for i, ln in enumerate(post) if "Range (" in ln]
        assert src and not any("Exchange" in ln
                               for ln in post[:src[0]]), \
            "an Exchange crept between the bloom filter and the scan"
        # and the result is still exact at this config
        assert bl.count() == large.join(small, ["k"], "inner").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
