"""Corpus topic summaries: embedding clusters labeled by their
characteristic terms (the BERTopic recipe, simplified to a
deterministic class-based TF-IDF — Grootendorst, arXiv:2203.05794 §3).

A curation pipeline needs to SEE what a corpus contains before mixing
it: cluster the embedding space with the IVF coarse quantizer (the
same machinery similarity search and SemDeDup use), then rank each
cluster's terms by

    score(t, c) = tf(t, c) · ln((C + 1) / cf(t))

where ``tf(t, c)`` is the term's frequency inside cluster ``c``,
``cf(t)`` the number of clusters containing the term, and ``C`` the
number of non-empty clusters — terms shared by every cluster (corpus
stopwords) sink toward ``ln((C+1)/C) ≈ 0``, cluster-specific
vocabulary rises.

Plan shape: one broadcast centroid-assignment pass over the embedding
table (never shuffles), one token explode with a (cluster, term)
map-side-combined count — the only corpus-scale shuffle — then
everything operates on the ≤ C × |vocab| term relation: the
cluster-frequency aggregate, a 1-row C broadcast, and a per-cluster
rank window whose partitions are bounded by vocabulary size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def topic_summaries(docs: DataFrame, emb: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    vec_id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    n_clusters: int = 16, top_terms: int = 5) -> DataFrame:
    """Top characteristic terms per embedding cluster:
    ``(centroid_id, n_docs, rank, term, score)`` — ``top_terms`` rows
    per non-empty cluster. The clusters are ``ivf_assign``'s
    deterministic lowest-id centroids, so the result is
    oracle-reproducible."""
    from zacks_estimates_financial_statements_spark.operators.curation import _word_array
    from zacks_estimates_financial_statements_spark.operators.similarity import ivf_assign

    assign, _ = ivf_assign(emb, n_clusters, vec_id_col, vec_col)
    clustered = docs.join(
        assign.withColumnRenamed(vec_id_col, id_col), id_col)
    n_docs = clustered.groupBy("centroid_id").agg(
        F.count("*").alias("n_docs"))
    toks = (clustered.select("centroid_id",
                             F.explode_outer(_word_array(text_col))
                             .alias("term"))
            .filter(F.col("term").isNotNull()))
    tf = toks.groupBy("centroid_id", "term").agg(
        F.count("*").alias("__tf"))
    cf = tf.groupBy("term").agg(F.count("*").alias("__cf"))
    c_total = (tf.agg(F.count_distinct("centroid_id").cast("double")
                      .alias("__c"))
               .withColumn("__k", F.lit(1)))
    scored = (tf.join(cf, "term")
              .withColumn("__k", F.lit(1))
              .join(F.broadcast(c_total), "__k")
              .withColumn("score",
                          F.round(F.col("__tf")
                                  * F.log((F.col("__c") + 1.0)
                                          / F.col("__cf")), 6)))
    w = Window.partitionBy("centroid_id").orderBy(
        F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_terms)
            .join(F.broadcast(n_docs), "centroid_id")
            .select("centroid_id", "n_docs", "rank", "term", "score"))
