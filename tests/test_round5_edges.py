"""Degenerate-input sweep for the round-5 operators: every operator
must return a sane (usually empty) result on empty/edge inputs instead
of raising — a 100 TB pipeline meets empty partitions, empty deliveries
and single-row groups constantly."""

from __future__ import annotations

from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions import tokenize as TK
from zacks_estimates_financial_statements_spark.operators import (
    curation,
    graph,
    linkage,
    profiling,
)


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


def test_weighted_sample_empty_and_all_nonpositive(spark):
    e = _empty(spark, "id long, w double")
    assert curation.weighted_sample(e, "id", "w", 5).count() == 0
    z = spark.createDataFrame([(1, 0.0), (2, -1.0)], "id long, w double")
    assert curation.weighted_sample(z, "id", "w", 5).count() == 0


def test_profile_table_empty(spark):
    e = _empty(spark, "a long, b string")
    rows = {r["column"]: r for r in profiling.profile_table(e).collect()}
    assert set(rows) == {"a", "b"}
    assert all(r["n_rows"] == 0 and r["n_nulls"] == 0 for r in rows.values())


def test_robust_outliers_empty_and_single_row(spark):
    e = _empty(spark, "id long, ts timestamp, g string, v double")
    assert profiling.robust_outliers(e, "ts", ["g"], "v").count() == 0
    import datetime

    one = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), "g", 5.0)],
        "id long, ts timestamp, g string, v double")
    got = profiling.robust_outliers(one, "ts", ["g"], "v").collect()
    assert len(got) == 1 and got[0]["is_outlier"] is False


def test_fuzzy_join_empty_sides(spark):
    e = _empty(spark, "id long, k string")
    r = spark.createDataFrame([(1, "abcdef")], "rid long, rk string")
    assert linkage.fuzzy_join(e, r, "k", "rk").count() == 0
    assert linkage.fuzzy_join(r, e, "rk", "k").count() == 0


def test_pagerank_empty_edges(spark):
    e = _empty(spark, "src long, dst long")
    assert graph.pagerank(e, n_iter=2).count() == 0


def test_bpe_train_empty_and_single_char_corpus(spark):
    e = _empty(spark, "text string")
    assert TK.bpe_train(e, "text", n_merges=3) == []
    # single-char words: no pairs ever — trainer stops early, not loops
    one = spark.createDataFrame([("a b c a b",)], "text string")
    assert TK.bpe_train(one, "text", n_merges=3) == []


def test_char_entropy_empty_and_whitespace(spark):
    e = _empty(spark, "doc_id long, text string")
    assert curation.char_entropy(e, "doc_id", "text").count() == 0
    ws = spark.createDataFrame([(1, " "), (2, None)],
                               "doc_id long, text string")
    got = curation.char_entropy(ws, "doc_id", "text").collect()
    assert [r["doc_id"] for r in got] == [1]   # NULL text drops out
    assert got[0]["entropy"] == 0.0


def test_zorder_single_value_range(spark):
    from zacks_estimates_financial_statements_spark.operators import layout

    df = spark.createDataFrame([(5,), (5,)], "v long")
    # degenerate lo == hi range must not divide by zero
    got = [r["s"] for r in df.select(
        layout.scale_to_bits(F.col("v"), 5, 5, 8).alias("s")).collect()]
    assert got == [0, 0]


def test_round5_operators_repartition_invariant(spark):
    """Determinism under physical layout: the round-5 operators must
    return identical results when the input is repartitioned — the
    property that makes 100 TB re-runs reproducible."""
    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.functions import tokenize as TK
    from zacks_estimates_financial_statements_spark.operators import (
        curation,
        graph,
        profiling,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} gamma {'delta ' * (i % 4)}", 10.0 + i)
         for i in range(120)],
        "doc_id long, text string, w double")
    variants = [docs, docs.repartition(17), docs.repartition(1)]

    def collected(df):
        return sorted(map(tuple, df.collect()))

    base_ws = collected(curation.weighted_sample(variants[0], "doc_id",
                                                 "w", 13))
    base_ce = collected(curation.char_entropy(variants[0], "doc_id",
                                              "text"))
    base_bpe = TK.bpe_train(variants[0], "text", n_merges=4)
    base_corr = collected(profiling.correlation_matrix(
        variants[0].select("doc_id", "w",
                           (F.col("w") * 2).alias("w2")), ["w", "w2"]))
    for v in variants[1:]:
        assert collected(curation.weighted_sample(v, "doc_id", "w",
                                                  13)) == base_ws
        assert collected(curation.char_entropy(v, "doc_id",
                                               "text")) == base_ce
        assert TK.bpe_train(v, "text", n_merges=4) == base_bpe
        assert collected(profiling.correlation_matrix(
            v.select("doc_id", "w", (F.col("w") * 2).alias("w2")),
            ["w", "w2"])) == base_corr

    edges = spark.createDataFrame(
        [(i % 23, (i * 7 + 3) % 23) for i in range(60) if i % 23 != (i * 7 + 3) % 23],
        "src long, dst long")
    base_pr = sorted(map(tuple, graph.pagerank(edges, n_iter=3).collect()))
    assert sorted(map(tuple, graph.pagerank(
        edges.repartition(13), n_iter=3).collect())) == base_pr
