"""Keyword retrieval over a document corpus (Okapi BM25).

The lexical complement of ``operators/similarity``'s embedding ANN:
corpus QA ("what does the corpus say about X"), retrieval-based
decontamination, and hard-negative mining all need a scalable BM25
pass. Formula (Robertson/Spärck Jones, TREC-3 Okapi):

    score(d, q) = Σ_t idf(t) · tf(t,d)·(k1+1) /
                              (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    idf(t) = ln(1 + (N − df_t + 0.5) / (df_t + 0.5))

with the usual k1 = 1.2, b = 0.75.

Plan shape — the trick is that the QUERY is tiny, so everything heavy
filters before it shuffles: the token explode drops every non-query
term in the same codegen stage (an ``isin`` over the broadcast-able
term list), leaving per-(doc, query-term) partial counts whose shuffle
is bounded by |matching docs| × |query terms|, with map-side combine.
Document lengths ride the same single corpus scan as a separate
(cheap, map-side-combined) aggregate; N and avgdl are a 1-row
broadcast; df_t is |query|-rows and broadcast. No corpus-wide shuffle
ever carries non-matching rows.

Determinism for the cross-engine oracle: per-term scores round to 6
digits and sum as ``decimal(38,6)``, the output score is that exact
sum rendered as double — the hashing recipe used throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: BM25 term-frequency saturation and length normalization
BM25_K1 = 1.2
BM25_B = 0.75
#: reciprocal-rank-fusion offset (Cormack et al.'s k = 60)
RRF_K = 60


def bm25_score(df: DataFrame, id_col: str, text_col: str,
               query: list[str]) -> DataFrame:
    """BM25 scores for every document matching ≥1 query term:
    ``(id, n_matched_terms, score)``. Query terms are lowercased and
    deduplicated; callers sort/limit for top-k (kept out of the
    operator so no global single-partition rank window exists at
    corpus size)."""
    terms = sorted({t.strip().lower() for t in query if t.strip()})
    if not terms:
        raise ValueError("query must contain at least one term")
    from zacks_estimates_financial_statements_spark.operators.curation import _word_array

    # NULL contract: the indexed corpus is the addressable docs — a
    # NULL id would merge every such doc into one aggregation group,
    # corrupting N/avgdl/df. NULL text stays: dl 0 via explode_outer.
    # Duplicate-id contract (r9 fuzz): postings key on the id, so rows
    # sharing an id MERGE — their token streams concatenate into one
    # logical document (dl/tf sum across rows; N counts ids). Ids are
    # expected unique upstream (exact_dup_groups); merging keeps the index
    # deterministic and zero-extra-shuffle when they are not.
    df = df.filter(F.col(id_col).isNotNull())
    toks = df.select(F.col(id_col), F.explode_outer(_word_array(text_col))
                     .alias("__tok"))
    # doc lengths + corpus stats (explode_outer keeps zero-token docs
    # in the length relation at length 0 via the null-token count)
    dl = toks.groupBy(id_col).agg(
        F.count("__tok").alias("__dl"))
    stats = dl.agg(F.count("__dl").cast("double").alias("__n"),
                   F.avg("__dl").alias("__avgdl")) \
        .withColumn("__k", F.lit(1))
    # everything below operates on query-term rows only
    hits = toks.filter(F.col("__tok").isin(terms))
    tf = hits.groupBy(id_col, "__tok").agg(F.count("*").alias("__tf"))
    dft = (tf.groupBy("__tok").agg(F.count("*").alias("__df"))
           .withColumn("__k", F.lit(1))
           .join(F.broadcast(stats), "__k")
           .select("__tok",
                   F.log(F.lit(1.0)
                         + (F.col("__n") - F.col("__df") + 0.5)
                         / (F.col("__df") + 0.5)).alias("__idf"),
                   "__avgdl"))
    per_term = (tf.join(dl, id_col)
                .join(F.broadcast(dft), "__tok"))
    k1, b = BM25_K1, BM25_B
    denom = (F.col("__tf")
             + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl")))
    contrib = F.round(
        F.col("__idf") * F.col("__tf") * (k1 + 1.0) / denom,
        6).cast("decimal(38,6)")
    return (per_term.groupBy(id_col)
            .agg(F.count("*").alias("n_matched_terms"),
                 F.sum(contrib).cast("double").alias("score")))


def rrf_fuse(ranked: list[DataFrame], id_col: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09)
    of candidate lists: each input carries ``(id, rank)`` (1-based
    within its own retriever); the fused score is
    ``Σ 1/(RRF_K + rank)``, with absent ids simply contributing
    nothing. RRF needs no score calibration between retrievers — only
    ranks — which is why it is the standard lexical+semantic fusion.

    Inputs are CANDIDATE lists (top-n per retriever, bounded), so the
    full-outer join chain and the final rank window run over at most
    ``Σ n_i`` rows — never corpus-sized. Output: ``(id,
    rank_1..rank_N, rrf_score, rank)``, best first."""
    from pyspark.sql import Window

    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    fused = None
    for i, r in enumerate(ranked, 1):
        side = r.select(F.col(id_col),
                        F.col("rank").alias(f"rank_{i}"))
        fused = side if fused is None else \
            fused.join(side, id_col, "full_outer")
    score = None
    for i in range(1, len(ranked) + 1):
        term = F.when(F.col(f"rank_{i}").isNotNull(),
                      F.lit(1.0) / (F.lit(float(RRF_K))
                                    + F.col(f"rank_{i}"))) \
            .otherwise(F.lit(0.0))
        score = term if score is None else score + term
    fused = fused.withColumn("rrf_score", F.round(score, 6))
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    return fused.withColumn("rank", F.row_number().over(w))


def hybrid_search(docs: DataFrame, id_col: str, text_col: str,
                  query_terms: list[str],
                  emb: DataFrame, vec_id_col: str, vec_col: str,
                  query_vec: list[float],
                  top_n: int = 100) -> DataFrame:
    """Hybrid lexical+semantic retrieval: BM25 candidates and
    cosine-similarity candidates (top-``top_n`` EACH, via distributed
    TakeOrdered — no global sort, no single-partition corpus window)
    fused with RRF. The shape RAG retrieval uses: each retriever
    prunes to a bounded candidate list in its own index space, fusion
    touches only candidates.

    Scores round to 6 before ranking (ties by id) on both retrievers,
    so the whole pipeline is deterministic cross-engine. Output:
    ``(id, rank_1 [lexical], rank_2 [semantic], rrf_score, rank)``."""
    from pyspark.sql import Window

    from zacks_estimates_financial_statements_spark.functions import vectors

    lex = (bm25_score(docs, id_col, text_col, query_terms)
           .select(F.col(id_col), F.round("score", 6).alias("s"))
           .orderBy(F.col("s").desc(), F.col(id_col).asc())
           .limit(top_n))
    lex = lex.withColumn("rank", F.row_number().over(
        Window.orderBy(F.col("s").desc(), F.col(id_col).asc())))
    # literal query vector (CAST-from-repr is an exact double
    # round-trip), MATERIALIZED as a column before the flat fragments
    # reference it: inlining the array literal into 128+ flat terms
    # builds a ~200 KB expression text (measured: hybrid_search +80%
    # from parse/analysis alone). Norms hoisted per row on both sides.
    qv_sql = "array({})".format(", ".join(
        f"CAST('{float(x)!r}' AS DOUBLE)" for x in query_vec))
    sem = (emb.select(F.col(vec_id_col).alias(id_col), F.col(vec_col),
                      vectors.norm_fast(f"`{vec_col}`").alias("__n"))
           .withColumn("__qv", F.expr(qv_sql))
           .withColumn("__qn", vectors.norm_fast("__qv"))
           .select(F.col(id_col),
                   F.round(vectors.cosine_prenorm(
                       f"`{vec_col}`", "__qv", "__n", "__qn"),
                       6).alias("s"))
           .filter(F.col("s").isNotNull())
           # duplicate-id contract (r9 fuzz): a candidate list is KEYED
           # — physical copies of one id collapse to (id, best score)
           # via a narrow map-side-combined agg BEFORE ranking (a dup
           # would burn two top-n slots and double-join in the fusion;
           # the lexical side is keyed already by bm25's merge contract)
           .groupBy(id_col).agg(F.max("s").alias("s"))
           .orderBy(F.col("s").desc(), F.col(id_col).asc())
           .limit(top_n))
    sem = sem.withColumn("rank", F.row_number().over(
        Window.orderBy(F.col("s").desc(), F.col(id_col).asc())))
    return rrf_fuse([lex, sem], id_col)


def retrieval_metrics(results: DataFrame, qrels: DataFrame,
                      query_col: str = "query_id",
                      doc_col: str = "doc_id",
                      rank_col: str = "rank",
                      grade_col: str = "grade",
                      k: int = 10) -> DataFrame:
    """Ranking-quality evaluation — nDCG@k / recall@k / precision@k /
    MRR@k per query, the standard IR panel (Järvelin & Kekäläinen,
    TOIS 2002 for DCG) that closes the retrieval loop: bm25_search /
    hybrid_search / ANN tiers produce ranked lists, this scores them
    against graded judgments.

    ``results``: (query, doc, rank) — rank 1-based, as produced by the
    search operators. ``qrels``: (query, doc, grade) — graded
    relevance, grade > 0 means relevant. Per query (the universe is
    the queries that RAN, i.e. distinct ``results`` queries):

    - ``hits_at_k``     relevant docs retrieved at rank <= k
    - ``recall_at_k``   hits / |relevant(q)| (NULL if no relevant)
    - ``precision_at_k`` hits / k
    - ``mrr``           1 / first relevant rank within k, else 0
    - ``ndcg_at_k``     DCG@k / IDCG@k with gain (2^grade − 1) /
      log2(rank + 1); IDCG ranks the query's qrels by grade DESC (doc
      id tiebreak); NULL when the query has no positive grades.

    Determinism (the repo hashing recipe): per-rank gains round to 6
    and sum as ``decimal(38,6)``; final ratios round to 6.

    Scale shape: ``results`` is already bounded (<= k rows per query
    after the rank filter) and qrels are human-sized; every join and
    window here runs on those bounded relations — nothing
    corpus-scale enters. The grade join is left + coalesce-0 so
    unjudged retrieved docs count as non-relevant (TREC convention).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dec = "decimal(38,6)"
    topk = (results.select(F.col(query_col), F.col(doc_col),
                           F.col(rank_col).alias("__r"))
            .filter(F.col("__r") <= k))
    graded = (topk.join(qrels.select(F.col(query_col), F.col(doc_col),
                                     F.col(grade_col).alias("__g")),
                        [query_col, doc_col], "left")
              .withColumn("__g", F.coalesce("__g", F.lit(0))))
    gain = F.round((F.pow(F.lit(2.0), F.col("__g")) - 1.0)
                   / F.log2(F.col("__r") + 1.0), 6)
    per_q = (graded.groupBy(query_col)
             .agg(F.sum(F.when(F.col("__g") > 0, 1).otherwise(0))
                  .alias("hits_at_k"),
                  F.sum(gain.cast(dec)).alias("__dcg"),
                  F.min(F.when(F.col("__g") > 0, F.col("__r")))
                  .alias("__first")))
    # ideal ranking: the query's judged docs by grade desc (doc asc)
    iw = Window.partitionBy(query_col).orderBy(
        F.col(grade_col).desc(), F.col(doc_col).asc())
    ideal = (qrels.filter(F.col(grade_col) > 0)
             .withColumn("__ir", F.row_number().over(iw))
             .filter(F.col("__ir") <= k)
             .groupBy(query_col)
             .agg(F.sum(F.round(
                 (F.pow(F.lit(2.0), F.col(grade_col)) - 1.0)
                 / F.log2(F.col("__ir") + 1.0), 6).cast(dec))
                 .alias("__idcg")))
    n_rel = (qrels.filter(F.col(grade_col) > 0)
             .groupBy(query_col)
             .agg(F.count("*").alias("n_relevant")))
    return (per_q.join(ideal, query_col, "left")
            .join(n_rel, query_col, "left")
            .select(
                query_col,
                F.coalesce("n_relevant", F.lit(0)).cast("bigint")
                .alias("n_relevant"),
                F.col("hits_at_k").cast("bigint").alias("hits_at_k"),
                F.round(F.col("hits_at_k")
                        / F.col("n_relevant"), 6).alias("recall_at_k"),
                F.round(F.col("hits_at_k") / F.lit(float(k)), 6)
                .alias("precision_at_k"),
                F.round(F.coalesce(1.0 / F.col("__first"), F.lit(0.0)),
                        6).alias("mrr"),
                F.round((F.col("__dcg") / F.col("__idcg"))
                        .cast("double"), 6).alias("ndcg_at_k")))


def phrase_search(df: DataFrame, id_col: str, text_col: str,
                  phrase: list[str]) -> DataFrame:
    """Exact-phrase search over a positional token index: one output
    row per occurrence of ``phrase`` (ordered, adjacent tokens) —
    ``(id, match_pos)`` with ``match_pos`` the 1-based token position
    where the phrase starts. Tokenization matches
    ``functions.text.word_tokens``, so "New York's" matches
    ["new", "york", "s"]-era phrasing consistently across operators.

    The classic positional-postings intersection, done in ONE pass:
    the corpus tokens posexplode once, a tiny broadcast ``(term,
    offset)`` relation (one row per phrase slot — repeated terms get
    one row per slot) equi-joins on the token, each hit votes for the
    candidate start ``pos − offset``, and a start wins iff it collects
    all ``len(phrase)`` votes. Non-phrase tokens are filtered by the
    broadcast hash join BEFORE the only shuffle (the vote groupBy), so
    shuffle volume is proportional to phrase-term frequency, not
    corpus size — the same pre-shuffle pruning argument as
    ``bm25_score``'s term filter. No self-join of the corpus, no
    window, no UDF.
    """
    from zacks_estimates_financial_statements_spark.operators.curation import _word_array

    terms = [t.strip().lower() for t in phrase if t.strip()]
    if not terms:
        raise ValueError("phrase must contain at least one token")
    L = len(terms)
    spark = df.sparkSession
    slots = spark.createDataFrame(
        [(t, i) for i, t in enumerate(terms)], "__tok string, __off int")
    pos = (df.select(F.col(id_col),
                     F.posexplode_outer(_word_array(text_col))
                     .alias("__p0", "__tok"))
           .filter(F.col("__tok").isNotNull()))
    votes = (pos.join(F.broadcast(slots), "__tok")
             .select(F.col(id_col),
                     (F.col("__p0") + 1 - F.col("__off"))
                     .cast("bigint").alias("match_pos")))
    return (votes.groupBy(id_col, "match_pos")
            .agg(F.count("*").alias("__c"))
            .filter((F.col("__c") == L) & (F.col("match_pos") >= 1))
            .select(id_col, "match_pos"))
