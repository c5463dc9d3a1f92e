"""Bit-identity of the flat (codegen) vector forms vs the fold forms.

The ``*_fast`` builders in ``functions/vectors.py`` claim VALUE IDENTITY
with the higher-order-function folds for every input: the flat sum is
the same left-assoc IEEE operation sequence (leading ``0.0``), the
integer forms are order-exact, and off-``dims``/NULL inputs take the
exact SQL mirror of the fold. This suite drives both forms over the
adversarial element pool the extreme-rate fuzz dial uses (NaN, +/-Inf,
-0.0, subnormals, DBL_MAX-scale squares that overflow to Inf in float32,
NULL elements, NULL arrays, empty arrays, wrong lengths) and asserts
bit-for-bit equality — except NaN, where only NaN-ness must match:
NaN PAYLOAD bits are not portable across evaluation strategies
(interpreted boxing vs codegen register ops propagate different
quiet-NaN sign bits on x86), and they are unobservable in results
(Spark compares/sorts all NaNs equal; the oracle canon folds every
NaN to the string "NaN"). -0.0 vs 0.0 IS still compared bit-exactly,
stricter than the canon (which folds them too).
"""
from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, FloatType, LongType, StructField,
                               StructType)

from zacks_estimates_financial_statements_spark.functions import vectors as V

DIMS = V.EMB_DIMS  # the width the cosine/norm builders run flat at

POOL = [0.0, -0.0, 1.0, -1.5, float("nan"), float("inf"), float("-inf"),
        1e38, -1e38, 5e-324, 1.17549435e-38, 3.4028235e38, 0.25]


def _vecs():
    vs = []
    for i in range(len(POOL)):
        vs.append([POOL[(i + j) % len(POOL)] for j in range(DIMS)])
    vs.append([1.0] * DIMS)
    vs.append([0.0] * DIMS)
    vs.append([-0.0] * DIMS)
    vs.append([None] + [1.0] * (DIMS - 1))        # NULL element
    vs.append([1.0] * (DIMS - 1))                 # short
    vs.append([1.0] * (DIMS + 3))                 # long
    vs.append([])                                 # empty
    vs.append(None)                               # NULL array
    return vs


def _bits(x):
    if x is None:
        return "NULL"
    if math.isnan(x):
        return "NaN"  # payload-insensitive, like the oracle canon
    return struct.pack(">d", float(x)).hex()


@pytest.fixture(scope="module")
def pairs_df(spark):
    vs = _vecs()
    rows = [Row(i=i * len(vs) + j, a=a, b=b)
            for i, a in enumerate(vs) for j, b in enumerate(vs)]
    schema = StructType([
        StructField("i", LongType()),
        StructField("a", ArrayType(FloatType())),
        StructField("b", ArrayType(FloatType())),
    ])
    return spark.createDataFrame(rows, schema)


def _assert_bitwise(rows, fast_name="fast", ref_name="ref"):
    bad = [(r["i"], r[ref_name], r[fast_name]) for r in rows
           if _bits(r[ref_name]) != _bits(r[fast_name])]
    assert not bad, f"{len(bad)} divergent rows, first: {bad[:5]}"


def test_cosine_fast_bitwise(pairs_df):
    out = pairs_df.select(
        "i",
        V.cosine(F.col("a"), F.col("b")).alias("ref"),
        V.cosine_fast("a", "b").alias("fast")).collect()
    _assert_bitwise(out)


def test_cosine_prenorm_bitwise(pairs_df):
    # norms hoisted into an upstream projection, then combined: must
    # equal the fold cosine bit-for-bit (same dot, same norms, same
    # NULLIF guard)
    out = (pairs_df
           .select("i", "a", "b",
                   V.norm_fast("a").alias("__na"),
                   V.norm_fast("b").alias("__nb"))
           .select("i",
                   V.cosine(F.col("a"), F.col("b")).alias("ref"),
                   V.cosine_prenorm("a", "b", "__na", "__nb")
                   .alias("fast"))
           .collect())
    _assert_bitwise(out)


def test_sq_l2_fast_bitwise(pairs_df):
    out = pairs_df.select(
        "i",
        V.sq_l2(F.col("a"), F.col("b")).alias("ref"),
        V.sq_l2_fast("a", "b", DIMS).alias("fast")).collect()
    _assert_bitwise(out)


def test_sign_bits_fast_exact(pairs_df):
    out = pairs_df.select(
        "i",
        V.sign_bits(F.col("a"), 4).alias("ref"),
        V.sign_bits_fast("a", 4).alias("fast")).collect()
    bad = [(r["i"], r["ref"], r["fast"]) for r in out
           if r["ref"] != r["fast"]]
    assert not bad, f"{len(bad)} divergent rows, first: {bad[:5]}"


def test_agree_frac_fast_exact(spark):
    sigs = [[1, 2, 3, 4], [1, 2, 9, 4], [None, 2, 3, 4], [1, 2, 3],
            [1, 2, 3, 4, 5], [], None]
    rows = [Row(i=i * len(sigs) + j, a=a, b=b)
            for i, a in enumerate(sigs) for j, b in enumerate(sigs)]
    schema = StructType([
        StructField("i", LongType()),
        StructField("a", ArrayType(LongType())),
        StructField("b", ArrayType(LongType())),
    ])
    df = spark.createDataFrame(rows, schema)
    ref = (F.aggregate(
        F.zip_with(F.col("a"), F.col("b"),
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v) / F.lit(4.0))
    out = df.select("i", ref.alias("ref"),
                    V.agree_frac_fast("a", "b", 4).alias("fast")).collect()
    _assert_bitwise(out)


def test_quantize_embeddings_matches_fold(spark):
    # the r13 flat rewrite of quantize_embeddings vs the original
    # higher-order fold formulation, element-wise bit-identical
    from zacks_estimates_financial_statements_spark.operators import (
        similarity as S)
    vs = [v for v in _vecs() if v is not None]
    vs64 = [([x for x in v if x is not None] * 64)[:64] for v in vs if v]
    rows = [Row(vec_id=i, embedding=v) for i, v in enumerate(vs64)]
    rows += [Row(vec_id=100, embedding=[1.0] * 8)]       # off-dims
    rows += [Row(vec_id=101, embedding=[None] + [1.0] * 63)]
    schema = StructType([StructField("vec_id", LongType()),
                         StructField("embedding",
                                     ArrayType(FloatType()))])
    df = spark.createDataFrame(rows, schema)

    absmax = F.aggregate(
        F.col("embedding"), F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))))
    staged = df.select("vec_id", F.col("embedding").alias("__v"),
                       (absmax / 127.0).alias("__scale"))
    qv = F.when(
        F.col("__scale") == 0.0,
        F.transform("__v", lambda x: F.lit(0))).otherwise(
        F.transform("__v", lambda x: F.floor(
            x.cast("double") / F.col("__scale") + 0.5).cast("int")))
    staged = staged.withColumn("qvec", qv)
    mae = (F.aggregate(
        F.zip_with("__v", "qvec",
                   lambda v, q: F.abs(v.cast("double")
                                      - q.cast("double")
                                      * F.col("__scale"))),
        F.lit(0.0), lambda acc, x: acc + x) / F.size("__v"))
    ref = {r["vec_id"]: r for r in staged.select(
        "vec_id", F.round("__scale", 6).alias("scale"), "qvec",
        F.round(mae, 6).alias("mae")).collect()}

    got = {r["vec_id"]: r for r in
           S.quantize_embeddings(df, "vec_id", "embedding").collect()}
    assert set(ref) == set(got)
    for k in ref:
        assert _bits(ref[k]["scale"]) == _bits(got[k]["scale"]), k
        assert _bits(ref[k]["mae"]) == _bits(got[k]["mae"]), k
        assert ref[k]["qvec"] == got[k]["qvec"], k


def test_cosine_fast_dims_mismatch_falls_back(spark):
    # dims=64 fast path never fires on 8-long arrays: values must still
    # match the fold exactly through the ELSE branch.
    df = spark.createDataFrame(
        [Row(a=[1.0] * 8, b=[2.0] * 8)],
        StructType([StructField("a", ArrayType(FloatType())),
                    StructField("b", ArrayType(FloatType()))]))
    r = df.select(
        V.cosine(F.col("a"), F.col("b")).alias("ref"),
        V.cosine_fast("a", "b").alias("fast")).collect()[0]
    assert _bits(r["ref"]) == _bits(r["fast"])
