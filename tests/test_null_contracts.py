"""Operator-level NULL/degraded-input contracts (round-8 contract fuzz).

tools/contract_fuzz.py proves Spark-vs-DuckDB agreement end-to-end on
NULL-injected data; these tests pin the OPERATOR semantics the fuzz
fixes settled on, so a refactor can't silently revert one:

- NULL id  = unaddressable (excluded from per-doc outputs, splits,
  samples, rank tie-breaks);
- NULL text/vector = unscorable (no shingles, no signature, no cosine);
- presence is never inferred from a NULL-able derived value
  (corpus_diff's fingerprint).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions import text as T
from zacks_estimates_financial_statements_spark.operators import (
    curation,
    dedup,
    graph,
    linkage,
    similarity,
)


def test_corpus_diff_null_text_is_unchanged_not_added(spark):
    old = spark.createDataFrame([(1, "a b c"), (2, None), (3, "x")],
                                "id bigint, t string")
    new = spark.createDataFrame([(2, None), (3, "x y"), (4, "f")],
                                "id bigint, t string")
    got = {r["id"]: r["status"]
           for r in curation.corpus_diff(old, new, "id", "t").collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_shingles_null_words_yield_no_shingles(spark):
    df = spark.createDataFrame([("a b c d",), (None,), ("",)], "t string")
    out = df.select(
        T.shingles_from_words(
            F.split(T.normalize_text(F.col("t")), " "), 3).alias("s")).collect()
    assert out[0]["s"] == ["a b c", "b c d"]
    assert out[1]["s"] is None          # NULL text: no shingles at all
    assert out[2]["s"] == [""]          # empty text: the '' shingle


def test_minhash_null_text_docs_are_not_mutual_dups(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "w1 w2 w3 w4"), (4, "w1 w2 w3 w4")],
        "doc_id bigint, text string")
    pairs = dedup.minhash_near_dup_pairs(df, "doc_id", "text",
                                         k=4, bands=2, shingle_k=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(3, 4)}


def test_hash_split_null_id_gets_no_split(spark):
    df = spark.createDataFrame([(1,), (None,)], "id bigint")
    rows = {r["id"]: r["split"]
            for r in curation.hash_split(df, "id", {"a": 1, "b": 1})
            .collect()}
    assert rows[1] in ("a", "b") and rows[None] is None


def test_similarity_excludes_null_ids_and_vectors(spark):
    c = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (None, [1.0, 0.0]), (3, None)],
        "vec_id bigint, embedding array<double>")
    q = spark.createDataFrame([(10, [1.0, 0.0])],
                              "query_id bigint, query_vec array<double>")
    rows = similarity.topk_bruteforce(c, q, k=5).collect()
    assert [r["vec_id"] for r in rows] == [1, 2]
    # a NULL id must never be picked as an IVF seed centroid
    assign, cent = similarity.ivf_assign(c, n_centroids=2)
    assert all(r["centroid_id"] is not None for r in cent.collect())


def test_best_match_prefers_real_identity_over_null(spark):
    pairs = spark.createDataFrame(
        [(1, None, 1), (1, 7, 1), (1, 9, 2)],
        "lid bigint, rid bigint, dist int")
    row = linkage.best_match(pairs, "lid", "rid").collect()[0]
    assert row["rid"] == 7 and row["dist"] == 1
    assert row["n_candidates"] == 3  # the NULL candidate still counts


def test_resolver_and_budget_exclude_null_ids(spark):
    docs = spark.createDataFrame([(1, "t"), (None, "t")],
                                 "doc_id bigint, text string")
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    out = graph.resolve_duplicate_clusters(docs, pairs, "doc_id").collect()
    assert [r["doc_id"] for r in out] == [1]
    filled = curation.token_budget_fill(
        docs.withColumn("q", F.lit(1.0)).withColumn("s", F.lit("all")),
        "s", "text", "q", "doc_id", budget=100).collect()
    assert [r["doc_id"] for r in filled] == [1]


def test_novelty_null_text_doc_keeps_row_null_id_does_not(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (None, "a b c d")],
        "doc_id bigint, text string")
    ref = spark.createDataFrame([(9, "a b c")], "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in
            curation.novelty_score(docs, ref, "doc_id", "text", n=3)
            .collect()}
    assert set(rows) == {1, 2}
    assert rows[2]["n_grams"] == 0 and rows[2]["novelty"] is None


def test_politeness_schedule_drops_null_id_even_on_tied_arrival(spark):
    # r8 advice: the id is the ordering tie-break; Spark windows sort
    # NULLs FIRST asc, DuckDB LAST, pandas puts NaN last — a NULL id on
    # a tied arrival would get an engine-dependent position and shift
    # every later position. Contract: unaddressable → unschedulable.
    from zacks_estimates_financial_statements_spark.functions import web
    from zacks_estimates_financial_statements_spark.streaming import (
        raw_zone_stream,
    )

    t0 = "2024-01-01 00:00:00"
    df = spark.createDataFrame(
        [("h", 2, t0), ("h", None, t0), ("h", 1, t0),
         ("h", 5, "2024-01-01 00:00:03"), ("h", None, None)],
        "host string, id bigint, ts string")
    for fn in (web.politeness_schedule, raw_zone_stream.schedule_fetches):
        rows = sorted(fn(df, "host", "id", "ts", interval_sec=10)
                      .collect(), key=lambda r: r["position"])
        assert [r["id"] for r in rows] == [1, 2, 5]
        assert [r["position"] for r in rows] == [0, 1, 2]
        # closed form: sched_i = i*I + running max of (arr_j - j*I)
        assert [r["wait_us"] for r in rows] == [0, 10_000_000, 17_000_000]
