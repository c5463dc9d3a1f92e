"""One cache lifecycle: every operator persist registers with the
innermost ``util.cache_scope`` and is released when it exits, whatever
the caller did to the returned DataFrame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions import tokenize
from zacks_estimates_financial_statements_spark.operators import (
    curation, dedup, linkage, similarity)
from zacks_estimates_financial_statements_spark.util import cache_scope, persist

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _docs(spark, n=20):
    return spark.createDataFrame(
        [(i, f"{WORDS} w{i % 4} " * (1 + i % 3), "en" if i % 2 else "de")
         for i in range(n)], "doc_id bigint, text string, lang string")


def _fuzzy_join(spark):
    clean = spark.createDataFrame(
        [(i, n) for i, n in enumerate(["golden retriever", "siamese cat",
                                       "parrot cage", "hamster wheel"])],
        "cid long, cname string")
    dirty = clean.select((F.col("cid") * 10).alias("did"),
                         F.expr("substring(cname, 2)").alias("dname"))
    return linkage.fuzzy_join(dirty, clean, "dname", "cname", max_dist=1)


def _unigram_encode(spark):
    docs = _docs(spark)
    vocab = tokenize.unigram_seed_vocab(docs, "text", vocab_size=8,
                                        max_piece_len=3, cache_freqs=True)
    return tokenize.unigram_encode(docs, "doc_id", "text", vocab)


def _dsir_select(spark):
    docs = _docs(spark)
    return curation.dsir_select(docs, docs.filter("doc_id < 5"),
                                "doc_id", "text", n=5, buckets=512)


def _ivf_topk(spark):
    corpus = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
         for i in range(40)], "vec_id bigint, embedding array<float>")
    queries = corpus.filter("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding AS query_vec")
    index = similarity.ivf_build(corpus, n_centroids=4)
    return similarity.topk_ivf(None, queries, k=3, nprobe=2, index=index)


#: every operator that persists an internal relation its lazy result
#: reads -> (builder, a column to compose a filter on)
OPERATORS = {
    "fuzzy_join": (_fuzzy_join, "dist"),
    "cdc_chunks": (lambda s: dedup.cdc_chunks(_docs(s), "doc_id", "text",
                                              w=3, avg_words=4),
                   "chunk_idx"),
    "bigram_lm_perplexity": (lambda s: curation.bigram_lm_perplexity(
        _docs(s), "doc_id", "text"), "ppl"),
    "kn_perplexity": (lambda s: curation.kn_perplexity(
        _docs(s), "doc_id", "text"), "ppl"),
    "dsir_select": (_dsir_select, "log_weight"),
    "perplexity_buckets": (lambda s: curation.perplexity_buckets(
        _docs(s), "doc_id", "text", "lang"), "bucket"),
    "unigram_encode": (_unigram_encode, "n_pieces"),
    "ivf_build": (_ivf_topk, "cosine"),
}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_scope_releases_composed_operator_result(spark, name):
    """A ``.filter`` on the result keeps nothing of a per-DataFrame
    hook; the scope still releases every cache the operator made, and
    the lineage survives the release."""
    build, col = OPERATORS[name]
    spark.catalog.clearCache()
    with cache_scope():
        out = build(spark).filter(F.col(col).isNotNull())
        rows = sorted(map(tuple, out.collect()))
        assert not _cache_empty(spark)
    assert _cache_empty(spark)
    assert rows
    assert sorted(map(tuple, out.collect())) == rows


def test_scope_releases_on_exception_and_nests(spark):
    spark.catalog.clearCache()
    outer_df = spark.range(10)
    with pytest.raises(RuntimeError):
        with cache_scope():
            outer = persist(outer_df)
            with cache_scope():
                persist(spark.range(20))
            assert not spark.range(20).storageLevel.useMemory
            assert outer.storageLevel.useMemory   # inner exit spared it
            raise RuntimeError("boom")
    assert _cache_empty(spark)


def test_persist_outside_scope_stays_cached(spark):
    spark.catalog.clearCache()
    df = persist(spark.range(7))
    assert df.storageLevel.useDisk and not _cache_empty(spark)
    spark.catalog.clearCache()
    assert _cache_empty(spark)
