"""Z-order layout: Morton key correctness and scaling."""

from __future__ import annotations

from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.operators import layout


def _morton2(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_key_matches_reference_bit_interleave(spark):
    rows = [(x, y) for x in range(0, 64, 7) for y in range(0, 64, 5)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = df.select(
        "x", "y",
        layout.zorder_key([F.col("x"), F.col("y")], 6).alias("z")).collect()
    for r in got:
        assert r["z"] == _morton2(r["x"], r["y"], 6)


def test_scale_to_bits_clamps_and_spans(spark):
    df = spark.createDataFrame(
        [(-5,), (0,), (500,), (999,), (2000,)], "v long")
    got = [r["s"] for r in df.select(
        layout.scale_to_bits(F.col("v"), 0, 999, 8).alias("s"))
        .collect()]
    # clamped to [0, 255]; endpoints hit exactly; midpoint ~ half
    assert got[0] == 0 and got[1] == 0 and got[4] == 255
    assert got[3] == 255 and abs(got[2] - 127) <= 1


def test_zorder_key_rejects_long_overflow(spark):
    import pytest

    with pytest.raises(ValueError):
        layout.zorder_key([F.lit(1), F.lit(2), F.lit(3)], 21)
