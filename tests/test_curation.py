"""Dataset-curation operators: deterministic splits, stratified
sampling, repetition signals (operators/curation.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.operators import curation


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 10_000).withColumnRenamed("id", "doc_id")


def test_hash_split_disjoint_exhaustive_and_proportional(ids):
    out = curation.hash_split(
        ids, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["cnt"] for r in
              out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert sum(counts.values()) == 10_000          # exhaustive
    assert set(counts) == {"train", "val", "test"}  # every split non-empty
    # md5 buckets are uniform: 3σ binomial tolerance on each weight
    for name, w in [("train", 0.8), ("val", 0.1), ("test", 0.1)]:
        sigma = (10_000 * w * (1 - w)) ** 0.5
        assert abs(counts[name] - 10_000 * w) < 3 * sigma + 1


def test_hash_split_stable_under_repartitioning(ids):
    a = curation.hash_split(ids, "doc_id", {"train": 0.9, "test": 0.1})
    b = curation.hash_split(ids.repartition(13), "doc_id",
                            {"train": 0.9, "test": 0.1})
    assert a.select("doc_id", "split").exceptAll(
        b.select("doc_id", "split")).count() == 0
    # and a different seed reshuffles assignments
    c = curation.hash_split(ids, "doc_id", {"train": 0.9, "test": 0.1},
                            seed="other")
    assert a.select("doc_id", "split").exceptAll(
        c.select("doc_id", "split")).count() > 0


def test_hash_split_unnormalized_weights_and_validation(ids):
    frac = curation.hash_split(ids, "doc_id", {"a": 0.5, "b": 0.5})
    whole = curation.hash_split(ids, "doc_id", {"a": 1, "b": 1})
    assert frac.select("doc_id", "split").exceptAll(
        whole.select("doc_id", "split")).count() == 0
    with pytest.raises(ValueError):
        curation.hash_split(ids, "doc_id", {})
    with pytest.raises(ValueError):
        curation.hash_split(ids, "doc_id", {"a": 0.0})


def test_split_thresholds_match_assignment(ids):
    weights = {"train": 8, "val": 1, "test": 1}
    th = dict(curation.split_thresholds(weights))
    assert th["test"] == 1_000_000
    out = curation.hash_split(ids, "doc_id", weights)
    over = out.filter(
        (F.col("split") == "train") & (F.col("bucket") >= th["train"]))
    assert over.count() == 0


def test_stratified_sample_rates_subset_determinism(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(10_000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = curation.stratified_sample(
        df, "lang", "doc_id", {"en": 0.4}, default_fraction=0.1)
    counts = {r["lang"]: r["cnt"] for r in
              out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    for lang, frac in [("en", 0.4), ("de", 0.1)]:
        n = 5_000
        sigma = (n * frac * (1 - frac)) ** 0.5
        assert abs(counts.get(lang, 0) - n * frac) < 3 * sigma + 1
    # subset of the input, deterministic across invocations
    assert out.select("doc_id").exceptAll(df.select("doc_id")).count() == 0
    again = curation.stratified_sample(
        df.repartition(7), "lang", "doc_id", {"en": 0.4},
        default_fraction=0.1)
    assert out.select("doc_id").exceptAll(
        again.select("doc_id")).count() == 0


def test_stratified_sample_uniform_fraction(spark):
    df = spark.range(0, 2_000).withColumnRenamed("id", "doc_id") \
        .withColumn("lang", F.lit("xx"))
    out = curation.stratified_sample(df, "lang", "doc_id", 0.25)
    n = out.count()
    sigma = (2_000 * 0.25 * 0.75) ** 0.5
    assert abs(n - 500) < 3 * sigma + 1


def test_repetition_stats_known_document(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"),           # pure repetition
         (2, "w x y z"),           # all distinct
         (3, "go go stop go"),     # modal token 'go' ×3
         (4, "ab"),                # 1 token: no bigrams/trigrams
         (5, "")],                 # empty: no rows at all
        ["doc_id", "text"])
    out = {(r["doc_id"], r["n"]): r for r in
           curation.repetition_stats(df, "doc_id", "text").collect()}

    r = out[(1, 1)]
    assert (r["total_ngrams"], r["distinct_ngrams"], r["top_count"]) == (4, 1, 4)
    assert r["dup_frac"] == 0.75 and r["top_frac"] == 1.0
    assert out[(1, 2)]["distinct_ngrams"] == 1      # 'a a' ×3
    assert out[(1, 2)]["dup_frac"] == pytest.approx(2 / 3, abs=1e-6)

    assert out[(2, 1)]["dup_frac"] == 0.0
    assert out[(2, 3)]["total_ngrams"] == 2          # 'w x y', 'x y z'

    r3 = out[(3, 1)]
    assert r3["top_count"] == 3 and r3["top_frac"] == 0.75

    assert (4, 1) in out and (4, 2) not in out       # too short for n=2
    assert all(doc != 5 for doc, _ in out)           # empty doc drops out


def test_repetition_stats_tokenization_ignores_case_and_punct(spark):
    df = spark.createDataFrame([(1, "The THE the."), (2, "a-b a b")],
                               ["doc_id", "text"])
    out = {(r["doc_id"], r["n"]): r for r in
           curation.repetition_stats(df, "doc_id", "text", ns=(1, 2))
           .collect()}
    assert out[(1, 1)]["distinct_ngrams"] == 1       # case-folded
    assert out[(1, 1)]["total_ngrams"] == 3          # trailing '.' dropped
    # 'a-b' splits into tokens a, b → bigrams: 'a b' ×2, 'b a'
    assert out[(2, 2)]["top_count"] == 2


def test_repetition_stats_validates_ns(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        curation.repetition_stats(df, "doc_id", "text", ns=(0, 2))
    with pytest.raises(ValueError):
        curation.repetition_stats(df, "doc_id", "text", ns=())


def test_token_frequencies_vocab_and_idf(spark):
    import math

    df = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog fish"), (3, "dog!")],
        ["doc_id", "text"])
    out = {r["token"]: r for r in
           curation.token_frequencies(df, "doc_id", "text").collect()}
    assert out["cat"]["tf"] == 2 and out["cat"]["doc_freq"] == 1
    assert out["dog"]["tf"] == 3 and out["dog"]["doc_freq"] == 3
    assert out["fish"]["doc_freq"] == 1
    assert out["dog"]["idf"] == pytest.approx(
        math.log(4.0 / 4.0) + 1.0, abs=1e-6)
    assert out["cat"]["idf"] == pytest.approx(
        math.log(4.0 / 2.0) + 1.0, abs=1e-6)
    # min_tf prunes the hapax tail
    pruned = curation.token_frequencies(df, "doc_id", "text", min_tf=2)
    assert {r["token"] for r in pruned.collect()} == {"cat", "dog"}
    with pytest.raises(ValueError):
        curation.token_frequencies(df, "doc_id", "text", min_tf=0)


def test_benchmark_contamination_flags_shared_grams(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id: long, text: string")
    corpus = spark.createDataFrame(
        [(1, "prefix alpha beta gamma delta suffix words here"),  # 2 hits
         (2, "totally different words in this one right here"),   # clean
         (3, "tiny doc")],                                        # < n tokens
        "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in curation.benchmark_contamination(
        corpus, bench, "doc_id", "text", n=4).collect()}
    # doc 1 shares "alpha beta gamma delta" and "beta gamma delta epsilon"?
    # no — only grams doc 1 actually contains: "alpha beta gamma delta"
    # plus "beta gamma delta suffix"(not in bench) → 1 overlap of its 5
    assert out[1]["total_grams"] == 5 and out[1]["overlap_grams"] == 1
    assert out[1]["contaminated"]
    assert out[2]["overlap_grams"] == 0 and not out[2]["contaminated"]
    assert out[3]["total_grams"] == 0 and not out[3]["contaminated"]
    assert len(out) == 3  # every corpus doc present, benchmark docs absent


def test_benchmark_contamination_counts_distinct_grams_once(spark):
    bench = spark.createDataFrame(
        [(9, "a b c d")], "doc_id: long, text: string")
    corpus = spark.createDataFrame(
        [(1, "a b c d x a b c d")], "doc_id: long, text: string")
    row = curation.benchmark_contamination(
        corpus, bench, "doc_id", "text", n=4).collect()[0]
    # "a b c d" occurs twice in the doc but is one distinct gram
    # (9 tokens → 6 positional 4-grams, 5 distinct)
    assert row["overlap_grams"] == 1 and row["total_grams"] == 5


def test_pii_scan_counts_and_redacts(spark):
    df = spark.createDataFrame(
        [(1, "mail a.user+tag@site.org and b@x.io, ip 10.0.0.1, "
             "ssn 123-45-6789"),
         (2, "no pii here"),
         (3, "ip-ish 999.999.999.999 still matches the naive pattern")],
        "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in
           curation.pii_scan(df, "doc_id", "text").collect()}
    assert out[1]["email_count"] == 2
    assert out[1]["ipv4_count"] == 1
    assert out[1]["ssn_count"] == 1
    assert out[1]["redacted"] == ("mail [EMAIL] and [EMAIL], ip [IPV4], "
                                  "ssn [SSN]")
    assert out[2]["email_count"] == 0 and out[2]["redacted"] == "no pii here"
    assert out[3]["ipv4_count"] == 1  # documented naive \d{1,3} quadrant


def test_chunk_tokens_exact_windows(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(7))),  # 7 tokens → 3+3+1
         (2, "one two three"),                      # single ragged chunk
         (3, "...")],                               # zero tokens → no rows
        "doc_id: long, text: string")
    rows = curation.chunk_tokens(df, "doc_id", "text", chunk_size=3) \
        .collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(r["n_tokens"] for r in by_doc[1]) == [1, 3, 3]
    assert [r["chunk_idx"] for r in
            sorted(by_doc[1], key=lambda r: r["chunk_idx"])] == [0, 1, 2]
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 3
    assert 3 not in by_doc
    # content-addressing: same chunk text → same hash across docs
    df2 = spark.createDataFrame([(9, "one two three")],
                                "doc_id: long, text: string")
    h2 = curation.chunk_tokens(df2, "doc_id", "text", chunk_size=3) \
        .collect()[0]["chunk_hash"]
    assert by_doc[2][0]["chunk_hash"] == h2
    with pytest.raises(ValueError):
        curation.chunk_tokens(df, "doc_id", "text", chunk_size=0)


def test_pack_sequences_streams_are_gapless_and_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, " ".join("tok" for _ in range(1 + i % 9)))
         for i in range(200)],
        "doc_id: long, text: string")
    out = curation.pack_sequences(docs, "doc_id", "text",
                                  budget=16, n_streams=4).collect()
    assert len(out) == 200
    by_stream = {}
    for r in out:
        by_stream.setdefault(r["stream"], []).append(r)
    assert set(by_stream) <= set(range(4))
    for rows in by_stream.values():
        rows.sort(key=lambda r: r["start_offset"])
        # gapless concatenation: each doc starts where the previous ended
        off = 0
        for r in rows:
            assert r["start_offset"] == off
            assert r["pack_id"] == off // 16
            assert r["pack_offset"] == off % 16
            off += r["n_tokens"]
    # layout is invariant to input partitioning
    again = curation.pack_sequences(docs.repartition(17), "doc_id", "text",
                                    budget=16, n_streams=4)
    assert again.exceptAll(
        curation.pack_sequences(docs, "doc_id", "text",
                                budget=16, n_streams=4)).count() == 0
    with pytest.raises(ValueError):
        curation.pack_sequences(docs, "doc_id", "text", budget=0)
    with pytest.raises(ValueError):
        curation.pack_sequences(docs, "doc_id", "text", n_streams=0)


def test_mixture_plan_shares_and_rates(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d", "web"),        # 4 tokens
         (2, "a b c d e f", "web"),    # 6 tokens → web 10
         (3, "x y z w v", "books"),    # books 5
         (4, "q r s t u", "code")],    # code 5
        "doc_id: long, text: string, source: string")
    out = {r["source"]: r for r in curation.mixture_plan(
        docs, "source", "text", {"web": 1, "books": 1}).collect()}
    assert out["web"]["n_docs"] == 2 and out["web"]["n_tokens"] == 10
    assert out["web"]["current_share"] == 0.5
    assert out["web"]["target_share"] == 0.5
    # web: rf = 0.5*20/10 = 1.0; books: 0.5*20/5 = 2.0 (under-repped)
    assert out["web"]["repeat_factor"] == 1.0
    assert out["books"]["repeat_factor"] == 2.0
    # normalize so max rate is 1: books keeps all, web halves, code drops
    assert out["books"]["sample_rate"] == 1.0
    assert out["web"]["sample_rate"] == 0.5
    assert out["code"]["target_share"] == 0.0
    assert out["code"]["sample_rate"] == 0.0
    with pytest.raises(ValueError):
        curation.mixture_plan(docs, "source", "text", {})
    with pytest.raises(ValueError):
        curation.mixture_plan(docs, "source", "text", {"web": 0.0})


def test_quantile_gate_median_keeps_top_half(spark):
    rows = [(i, "web", float(i)) for i in range(1, 6)] + \
           [(i, "code", float(100 - i)) for i in range(10, 13)]
    df = spark.createDataFrame(rows, "doc_id: long, source: string, score: double")
    out = curation.quantile_gate(df, "source", "score", q=0.5)
    kept = {(r["doc_id"], r["source"]): r["threshold"] for r in out.collect()}
    # web scores 1..5, median 3.0 → keep 3,4,5
    assert {d for d, s in kept if s == "web"} == {3, 4, 5}
    assert kept[(3, "web")] == 3.0
    # code scores 90,89,88 → median 89 → keep 10 (90) and 11 (89)
    assert {d for d, s in kept if s == "code"} == {10, 11}
    # q=0 keeps everything
    assert curation.quantile_gate(df, "source", "score", q=0.0).count() == 8
    with pytest.raises(ValueError):
        curation.quantile_gate(df, "source", "score", q=1.5)


def test_token_budget_fill_priority_order(spark):
    df = spark.createDataFrame(
        [(1, "web", "a b c d", 0.9),    # 4 tokens, best
         (2, "web", "e f g", 0.8),      # 3 tokens → cum 7
         (3, "web", "h i j k l", 0.7),  # 5 tokens → cum 12 > 10, dropped
         (4, "web", "m n", 0.6),        # later rank: cum 14, dropped too
         (5, "code", "x y z", 0.5)],
        "doc_id: long, source: string, text: string, score: double")
    out = curation.token_budget_fill(df, "source", "text", "score",
                                     "doc_id", budget=10)
    kept = {r["doc_id"]: r for r in out.collect()}
    assert set(kept) == {1, 2, 5}
    assert kept[1]["cum_tokens"] == 4 and kept[2]["cum_tokens"] == 7
    assert kept[5]["cum_tokens"] == 3
    # greedy prefix semantics: doc 4 does NOT back-fill the gap doc 3 left
    with pytest.raises(ValueError):
        curation.token_budget_fill(df, "source", "text", "score",
                                   "doc_id", budget=-1)


def test_repeated_spans_merges_islands(spark):
    from zacks_estimates_financial_statements_spark.operators import curation

    boiler = "all rights reserved contact us for details"
    docs = spark.createDataFrame(
        [(1, f"alpha beta {boiler} gamma delta"),
         (2, f"one two three {boiler} four"),
         (3, f"{boiler} and then unique tail words here"),
         (4, "totally unique content with no shared windows at all")],
        ["doc_id", "text"])
    out = curation.repeated_spans(docs, "doc_id", "text", k=4, min_docs=3)
    rows = {r.doc_id: r for r in out.collect()}
    # the 7-token boilerplate yields 4 overlapping k=4 windows per doc,
    # merged into ONE island of 7 tokens; doc 4 contributes nothing
    assert set(rows) == {1, 2, 3}
    for mid, start in [(1, 3), (2, 4), (3, 1)]:
        r = rows[mid]
        assert (r.span_start, r.span_end, r.n_tokens, r.n_spans) == \
            (start, start + 6, 7, 4)


def test_repeated_spans_validation(spark):
    import pytest as _pytest

    from zacks_estimates_financial_statements_spark.operators import curation

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="k must"):
        curation.repeated_spans(docs, "doc_id", "text", k=1)
    with _pytest.raises(ValueError, match="min_docs"):
        curation.repeated_spans(docs, "doc_id", "text", min_docs=1)


def test_domain_quota_priority_and_ties(spark):
    from zacks_estimates_financial_statements_spark.operators import curation

    df = spark.createDataFrame(
        [(1, "a.com", 50), (2, "a.com", 90), (3, "a.com", 90),
         (4, "a.com", 10), (5, "b.com", 5)],
        ["doc_id", "host", "score"])
    rows = {r.doc_id: r for r in curation.domain_quota(
        df, "host", "doc_id", 2, priority_col="score").collect()}
    # score desc, ties by id asc: 2, 3, 1, 4
    assert [rows[i].host_rank for i in (2, 3, 1, 4)] == [1, 2, 3, 4]
    assert [rows[i].keep for i in (2, 3, 1, 4, 5)] == \
        [True, True, False, False, True]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_per_host"):
        curation.domain_quota(df, "host", "doc_id", 0)


def test_bigram_lm_perplexity_hand_computed(spark):
    import math

    from zacks_estimates_financial_statements_spark.operators import curation

    # corpus: "a b a b" and "a b x". V = 3 (a, b, x).
    # bigram counts: (a,b)=3, (b,a)=1, (b,x)=1; prefixes: a·=3, b·=2
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b x"), (3, "single")],
        ["doc_id", "text"])
    rows = {r.doc_id: r for r in curation.bigram_lm_perplexity(
        docs, "doc_id", "text").collect()}
    assert 3 not in rows            # <2 tokens: no bigrams to score
    p_ab = (3 + 0.5) / (3 + 0.5 * 3)
    p_ba = (1 + 0.5) / (2 + 0.5 * 3)
    p_bx = (1 + 0.5) / (2 + 0.5 * 3)

    def ppl(ps):
        nlls = [round(-math.log(p), 6) for p in ps]
        return round(math.exp(sum(nlls) / len(nlls)), 6)

    assert rows[1].n_bigrams == 3
    assert abs(rows[1].ppl - ppl([p_ab, p_ba, p_ab])) < 1e-6
    assert rows[2].n_bigrams == 2
    assert abs(rows[2].ppl - ppl([p_ab, p_bx])) < 1e-6
    # repetitive doc 1 scores LOWER perplexity than mixed doc 2
    assert rows[1].ppl < rows[2].ppl


def test_wordpiece_greedy_longest_match(spark):
    """Maximal munch: 'thereby' with vocab pieces {'there', 'the', 'by',
    chars} must pick 'there'+'by', never 'the'+...; an externally
    supplied vocab missing a character falls back to <unk>+advance-1."""
    from zacks_estimates_financial_statements_spark.functions import tokenize

    vocab = spark.createDataFrame(
        [(p,) for p in ["there", "the", "by", "t", "h", "e", "r", "b",
                        "y", "a"]], ["piece"])
    docs = spark.createDataFrame(
        [(1, "Thereby the rat"),   # 'rat': r + a + <unk>(t? no, t IS in vocab)
         (2, ""), (3, None)],
        "doc_id: long, text: string")
    out = {r.doc_id: (list(r.tokens), r.n_tokens) for r in
           tokenize.wordpiece_encode(docs, "doc_id", "text", vocab,
                                     max_piece_len=6).collect()}
    assert out[1] == (["there", "by", "the", "r", "a", "t"], 6)
    assert out[2] == ([], 0) and out[3] == ([], 0)

    # drop 'a' from the vocab: the unmatched char becomes <unk>
    vocab2 = vocab.filter("piece <> 'a'")
    out2 = {r.doc_id: list(r.tokens) for r in
            tokenize.wordpiece_encode(docs, "doc_id", "text", vocab2,
                                      max_piece_len=6).collect()}
    assert out2[1] == ["there", "by", "the", "r", "<unk>", "t"]


def test_wordpiece_vocab_derivation(spark):
    """Vocab = prefixes of top-k frequent words + corpus alphabet,
    deterministic ids."""
    from zacks_estimates_financial_statements_spark.functions import tokenize

    docs = spark.createDataFrame(
        [(1, "hello hello hello world world zap")],
        "doc_id: long, text: string")
    v = tokenize.wordpiece_vocab(docs, "text", top_k=2, max_piece_len=4)
    pieces = {r.piece for r in v.collect()}
    # prefixes (<=4) of 'hello' and 'world' only (zap is rank 3)...
    assert {"h", "he", "hel", "hell", "w", "wo", "wor", "worl"} <= pieces
    assert "hello" not in pieces and "world" not in pieces  # len 5 > 4
    # ...plus every corpus char, including zap's
    assert {"z", "a", "p", "d", "o"} <= pieces
    # ids are the bytewise rank
    rows = sorted((r.piece_id, r.piece) for r in v.collect())
    assert [p for _, p in rows] == sorted(p for _, p in rows)


def test_bm25_ranking_properties(spark):
    """BM25 sanity on a constructed corpus: rarer terms weigh more,
    higher tf scores higher within a term, longer docs are penalized,
    and non-matching docs are absent."""
    from zacks_estimates_financial_statements_spark.operators import retrieval

    df = spark.createDataFrame(
        [(1, "apple banana cherry date egg"),
         (2, "apple apple apple banana fig"),
         (3, "apple grape melon kiwi pear"),
         (4, "zebra yak xylophone wombat vole"),
         (5, "banana banana nut bread loaf")],
        "doc_id: long, text: string")
    out = {r.doc_id: r for r in retrieval.bm25_score(
        df, "doc_id", "text", ["apple", "banana"]).collect()}
    assert 4 not in out                       # no query term
    assert set(out) == {1, 2, 3, 5}
    assert out[1].n_matched_terms == 2
    # doc 2 has tf(apple)=3 vs doc 3's 1, same length -> higher score
    assert out[2].score > out[3].score
    # 'banana' (df=3) is rarer than 'apple' (df=3)? equal here — check
    # the idf monotonicity with a 3rd query instead: a term in every
    # doc scores below a term in one doc at equal tf
    common = {r.doc_id: r.score for r in retrieval.bm25_score(
        df, "doc_id", "text", ["apple"]).collect()}
    rare = {r.doc_id: r.score for r in retrieval.bm25_score(
        df, "doc_id", "text", ["cherry"]).collect()}
    assert rare[1] > common[3]    # tf=1 both; cherry df=1 < apple df=3

    import pytest as _pytest
    with _pytest.raises(ValueError, match="at least one term"):
        retrieval.bm25_score(df, "doc_id", "text", ["  "])


def test_topic_summaries_separates_vocabularies(spark):
    """Two orthogonal embedding clusters with disjoint vocabularies:
    each cluster's top terms come from its own vocabulary, and a word
    common to every cluster never outranks cluster-specific terms."""
    from zacks_estimates_financial_statements_spark.operators import topics

    docs = spark.createDataFrame(
        [(0, "stock market trading shares common"),
         (1, "genome protein enzyme cell common"),
         (2, "market shares dividend stock common"),
         (3, "protein cell genome dna common")],
        "doc_id: long, text: string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]),
         (2, [0.99, 0.01]), (3, [0.01, 0.99])],
        "vec_id: long, embedding: array<float>")
    out = topics.topic_summaries(docs, emb, n_clusters=2, top_terms=3)
    rows = out.collect()
    by_c = {}
    for r in rows:
        by_c.setdefault(r.centroid_id, []).append(r)
    assert len(by_c) == 2
    fin = {r.term for r in by_c[0]}
    bio = {r.term for r in by_c[1]}
    assert fin <= {"stock", "market", "trading", "shares", "dividend"}
    assert bio <= {"genome", "protein", "enzyme", "cell", "dna"}
    # the everywhere-word scores ~0 and never makes top-3
    assert "common" not in fin | bio
    assert all(r.n_docs == 2 for r in rows)
    assert [r.rank for r in sorted(by_c[0], key=lambda r: r.rank)] == \
        [1, 2, 3]


def test_weighted_sample_proportional_and_global_path(spark):
    """A-ES inclusion frequency tracks weight, the sample is
    deterministic, non-positive weights never appear, and the global
    (no-strata) path plans as TakeOrdered — no full-sort exchange."""
    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.operators import curation

    rows = [(i, "heavy" if i % 10 == 0 else "light",
             100.0 if i % 10 == 0 else 1.0) for i in range(200)]
    rows.append((900, "zero", 0.0))
    rows.append((901, "neg", -5.0))
    df = spark.createDataFrame(rows, "id long, kind string, w double")

    picks: dict[str, int] = {"heavy": 0, "light": 0}
    for r in curation.weighted_sample(df, "id", "w", 20).collect():
        assert r["kind"] in picks  # zero/neg weights excluded
        picks[r["kind"]] += 1
    # 20 heavy rows at w=100 vs 180 light at w=1: heavy dominates
    assert picks["heavy"] > picks["light"]

    # determinism: same seed -> identical sample set and ranks
    a = sorted((r["id"], r["rank"]) for r in
               curation.weighted_sample(df, "id", "w", 15).collect())
    b = sorted((r["id"], r["rank"]) for r in
               curation.weighted_sample(df, "id", "w", 15).collect())
    assert a == b and len(a) == 15

    # global path: TakeOrdered, not a global Sort exchange
    plan = curation.weighted_sample(df, "id", "w", 15) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    # strata path: exactly n per stratum when the stratum is big enough
    s = curation.weighted_sample(df, "id", "w", 5, strata_col="kind")
    counts = {r["kind"]: r["n"] for r in
              s.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    assert counts == {"heavy": 5, "light": 5}


def test_bpe_train_matches_reference_implementation(spark):
    """The distributed trainer must reproduce textbook BPE (Sennrich
    ACL'16) merge-for-merge, including count ties broken
    lexicographically and chained same-pair occurrences."""
    import collections

    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    corpus = ["low low low lower lower newest newest newest newest widest",
              "aaaa aaaa bb bb"]   # 'a a' chains: overlap semantics

    def ref_bpe(words, k):
        vocab = collections.Counter(words)
        segs = {w: list(w) for w in vocab}
        merges = []
        for _ in range(k):
            stats = collections.Counter()
            for w, cnt in vocab.items():
                s = segs[w]
                for i in range(len(s) - 1):
                    stats[(s[i], s[i + 1])] += cnt
            if not stats:
                break
            m = max(stats.values())
            pair = sorted(p for p, c in stats.items() if c == m)[0]
            merges.append(pair)
            for w in segs:
                s, out, i = segs[w], [], 0
                while i < len(s):
                    if i < len(s) - 1 and (s[i], s[i + 1]) == pair:
                        out.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                segs[w] = out
        return merges

    df = spark.createDataFrame([(c,) for c in corpus], "text string")
    got = TK.bpe_train(df, "text", n_merges=8)
    want = ref_bpe(" ".join(corpus).split(), 8)
    assert got == want and len(got) == 8
    # r12: the two execution tiers (single-task mapInPandas loop vs
    # distributed per-merge argmax) must be bit-identical — force the
    # distributed fallback by zeroing the local-vocab bound
    assert TK.bpe_train(df, "text", n_merges=8, max_local_vocab=0) == want


def test_char_entropy_ranks_garbage(spark):
    """The entropy signal must separate natural-ish text from
    repeated-character padding and match the closed form on a
    hand-computable distribution."""
    import math

    from zacks_estimates_financial_statements_spark.operators import curation

    df = spark.createDataFrame(
        [(1, "abab"),              # p(a)=p(b)=.5 -> ln 2
         (2, "aaaaaaaaaaaaaaaa" * 16),   # degenerate
         (3, "the quick brown fox jumps over the lazy dog " * 6),
         (4, "")],                 # empty: excluded
        "doc_id long, text string")
    ent = {r["doc_id"]: r for r in
           curation.char_entropy(df, "doc_id", "text").collect()}
    assert set(ent) == {1, 2, 3}
    assert ent[1]["entropy"] == round(math.log(2), 6)
    assert ent[1]["n_chars"] == 4 and ent[1]["n_distinct_chars"] == 2
    assert ent[2]["entropy"] == 0.0
    assert ent[3]["entropy"] > 2.5  # natural-ish text


def test_rrf_fuse_hand_computed(spark):
    """RRF fusion on a hand-computable example: overlap ranks sum,
    single-list ids contribute one term, ordering ties break by id."""
    from zacks_estimates_financial_statements_spark.operators import retrieval

    lex = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                                "doc_id long, rank int")
    sem = spark.createDataFrame([(2, 1), (4, 2)],
                                "doc_id long, rank int")
    got = {r["doc_id"]: r for r in
           retrieval.rrf_fuse([lex, sem], "doc_id").collect()}
    assert got[2]["rrf_score"] == round(1 / 62 + 1 / 61, 6)
    assert got[1]["rrf_score"] == round(1 / 61, 6)
    assert got[4]["rank_1"] is None and got[4]["rank_2"] == 2
    order = sorted(got.values(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in order] == [2, 1, 4, 3]

    import pytest

    with pytest.raises(ValueError):
        retrieval.rrf_fuse([], "doc_id")


def test_hybrid_search_prefers_doubly_retrieved(spark):
    """A doc that is both lexically and semantically close must outrank
    docs retrieved by only one list."""
    from zacks_estimates_financial_statements_spark.operators import retrieval

    docs = spark.createDataFrame(
        [(1, "spark query engine"),     # lexical hit + semantic hit
         (2, "spark query engine"),     # lexical hit, orthogonal vector
         (3, "gardening on weekends")],  # semantic hit only
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<float>")
    out = retrieval.hybrid_search(
        docs, "doc_id", "text", ["spark", "query"],
        emb, "vec_id", "embedding", [1.0, 0.0], top_n=10)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["doc_id"] == 1
    assert rows[0]["rank_1"] is not None and rows[0]["rank_2"] == 1


def test_chunk_tokens_stride_overlap(spark):
    """stride < chunk_size gives overlapping windows covering every
    start position; default stride reproduces the training layout;
    invalid strides are rejected."""
    import pytest

    df = spark.createDataFrame([(1, "a b c d e f g h i j")],
                               "doc_id long, text string")
    got = sorted((r["chunk_idx"], r["n_tokens"]) for r in
                 curation.chunk_tokens(df, "doc_id", "text",
                                       chunk_size=4, stride=2).collect())
    # 10 tokens, starts 0,2,4,6,8 -> lengths 4,4,4,4,2
    assert got == [(0, 4), (1, 4), (2, 4), (3, 4), (4, 2)]
    plain = curation.chunk_tokens(df, "doc_id", "text", chunk_size=4)
    dflt = curation.chunk_tokens(df, "doc_id", "text", chunk_size=4,
                                 stride=4)
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, dflt.collect()))
    with pytest.raises(ValueError):
        curation.chunk_tokens(df, "doc_id", "text", chunk_size=4,
                              stride=5)
    with pytest.raises(ValueError):
        curation.chunk_tokens(df, "doc_id", "text", chunk_size=4,
                              stride=0)


def test_bpe_encode_applies_learned_merges(spark):
    """bpe_encode: trained merges apply greedily left-to-right per
    word, documents reassemble in word order, empty docs get []."""
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low"), (3, ""),
         (4, "banana")],
        "doc_id long, text string")
    merges = TK.bpe_train(df, "text", n_merges=3)
    out = {r["doc_id"]: (list(r["pieces"]), r["n_pieces"])
           for r in TK.bpe_encode(df, "doc_id", "text", merges).collect()}

    # reference implementation: same two-space-separator replace chain
    def ref(word):
        seg = "  " + "".join(c + "  " for c in word)
        for x, y in merges:
            seg = seg.replace(f" {x}  {y} ", f" {x}{y} ")
        return [p for p in seg.split("  ") if p]

    import re
    for doc_id, text in [(1, "low lower lowest"), (2, "low low"),
                         (3, ""), (4, "banana")]:
        words = [w for w in re.split(r"[^a-z0-9_]+", text.lower()) if w]
        want = [p for w in words for p in ref(w)]
        assert out[doc_id] == (want, len(want)), (doc_id, out[doc_id], want)
    # merges actually learned something on this corpus
    assert len(merges) == 3
    # 'low' appears 4x -> its pieces should have merged below 3 chars
    assert len(ref("low")) < 3


def test_leakage_safe_split_groups_never_straddle(spark):
    """Every member of a near-dup component must land in the SAME
    split, and singletons follow plain hash_split semantics."""
    from zacks_estimates_financial_statements_spark.operators import curation

    docs = spark.createDataFrame([(i,) for i in range(200)],
                                 "doc_id long")
    # components: {0,1,2} chained, {10,11}, rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long")
    out = curation.leakage_safe_split(
        docs, "doc_id", pairs, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 200
    assert rows[0] == rows[1] == rows[2]
    assert rows[10] == rows[11]
    # singleton assignment == hash_split keyed on own id
    solo = {r["doc_id"]: r["split"] for r in curation.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    for i in range(20, 40):
        assert rows[i] == solo[i]
    # all three splits materialize over 200 ids
    assert set(rows.values()) == {"train", "val", "test"}


# ---------------------------------------------------------------- gopher gate

GOOD_DOC = ("the quick brown fox jumps over the lazy dog and then "
            "rests beside the river with a friend of hers that day "
            "while birds sing songs about warm light and soft wind "
            "carrying leaves across fields where children play games "
            "until the evening comes and everyone walks home to eat") * 1


def _gate(spark, rows):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = curation.gopher_gate(df, "doc_id", "text")
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_gopher_gate_good_document_keeps(spark):
    got = _gate(spark, [(1, GOOD_DOC)])
    row = got[1]
    assert row["keep"] and all(
        row[c] for c in row if c.startswith("ok_")), row


def test_gopher_gate_word_count_bounds(spark):
    # the gate's floor is 50 words, which GOOD_DOC just reaches
    got = _gate(spark, [(1, "too short to pass"), (2, GOOD_DOC)])
    assert not got[1]["ok_words"] and not got[1]["keep"]
    assert got[2]["ok_words"]


def test_gopher_gate_bullet_and_ellipsis_lines(spark):
    bullets = "\n".join(f"- item {i} of the list" for i in range(10))
    dots = "\n".join(f"the line number {i} trails off..."
                     for i in range(10))
    got = _gate(spark, [(1, bullets), (2, dots), (3, GOOD_DOC)])
    assert got[1]["bullet_line_frac"] == 1.0 and not got[1]["ok_bullets"]
    assert got[2]["ellipsis_line_frac"] == 1.0 \
        and not got[2]["ok_ellipsis"]
    # ellipsis at end-of-text (no trailing newline) counts too
    got_tail = _gate(spark, [(1, "it simply trails off...")])
    assert got_tail[1]["ellipsis_line_frac"] == 1.0
    assert got[3]["ok_bullets"] and got[3]["ok_ellipsis"]


def test_gopher_gate_symbol_ratio_and_alpha_fraction(spark):
    hashy = " ".join("#tag" for _ in range(60))
    numeric = " ".join(str(i) for i in range(60))
    got = _gate(spark, [(1, hashy), (2, numeric), (3, GOOD_DOC)])
    assert got[1]["symbol_ratio"] >= 1.0 and not got[1]["ok_symbols"]
    assert got[2]["alpha_word_frac"] == 0.0 and not got[2]["ok_alpha"]
    assert got[3]["ok_symbols"] and got[3]["ok_alpha"]


def test_gopher_gate_stopword_probe_distinct(spark):
    # 'the' repeated 60x = ONE distinct probe stopword
    one = " ".join("the" for _ in range(60))
    got = _gate(spark, [(1, one), (2, GOOD_DOC)])
    assert got[1]["n_stopwords"] == 1 and not got[1]["ok_stopwords"]
    assert got[2]["n_stopwords"] >= 2 and got[2]["ok_stopwords"]


def test_gopher_gate_null_text_fails_closed(spark):
    got = _gate(spark, [(1, None), (2, GOOD_DOC)])
    assert got[1]["keep"] is False and got[1]["n_words"] is None
    assert all(got[1][c] is False for c in got[1]
               if c.startswith("ok_"))
    assert got[2]["keep"] is True


# ----------------------------------------------------------------------- dsir

def _dsir_corpus(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    b = "one two three four five six seven eight " * 4
    rows = [(i, a if i % 2 == 0 else b) for i in range(40)]
    raw = spark.createDataFrame(rows, "doc_id bigint, text string")
    target = spark.createDataFrame(
        [(100 + i, a) for i in range(10)], "doc_id bigint, text string")
    return raw, target


def test_dsir_weights_favor_target_like_docs(spark):
    raw, target = _dsir_corpus(spark)
    out = curation.dsir_select(raw, target, "doc_id", "text",
                               buckets=512)
    got = {r["doc_id"]: r["log_weight"] for r in out.collect()}
    assert len(got) == 40
    a_w = [w for d, w in got.items() if d % 2 == 0]
    b_w = [w for d, w in got.items() if d % 2 == 1]
    # every alpha-vocabulary doc outweighs every numeric-vocabulary doc
    assert min(a_w) > max(b_w)


def test_dsir_topk_deterministic_and_without_replacement(spark):
    raw, target = _dsir_corpus(spark)
    sel = curation.dsir_select(raw, target, "doc_id", "text",
                               n=10, buckets=512)
    ids1 = sorted(r["doc_id"] for r in sel.collect())
    assert len(ids1) == len(set(ids1)) == 10
    again = curation.dsir_select(raw.repartition(7), target, "doc_id",
                                 "text", n=10, buckets=512)
    assert sorted(r["doc_id"] for r in again.collect()) == ids1
    # target-like docs dominate the selection
    assert sum(1 for d in ids1 if d % 2 == 0) >= 8


def test_dsir_featureless_docs_drop_out(spark):
    raw, target = _dsir_corpus(spark)
    raw = raw.union(spark.createDataFrame(
        [(900, None), (901, ""), (902, "!!! ???")],
        "doc_id bigint, text string"))
    out = curation.dsir_select(raw, target, "doc_id", "text",
                               buckets=512)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == set(range(40))


def test_dsir_validates_buckets(spark):
    raw, target = _dsir_corpus(spark)
    with pytest.raises(ValueError):
        curation.dsir_select(raw, target, "doc_id", "text", buckets=1)


# -------------------------------------------------------- perplexity buckets

def test_perplexity_buckets_tertiles_and_dropout(spark):
    # 9 scoreable docs in one language: 3 highly-predictable (repeated
    # bigram chains), 3 mixed, 3 near-unique-bigram word soups -> the
    # tertile cut puts exactly 3 in each bucket; a 1-token doc drops.
    predictable = "spark table spark table spark table spark table"
    mixed = "spark table join filter spark group table window agg"
    rows = []
    for i in range(3):
        rows.append((i, predictable + f" tail{i}", "en"))
    for i in range(3, 6):
        rows.append((i, mixed + f" tail{i} extra{i}", "en"))
    for i in range(6, 9):
        rows.append((i, f"zig{i} zag{i} zip{i} zap{i} zoo{i} "
                        f"qux{i} quux{i}", "en"))
    rows.append((99, "lonely", "en"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                     "lang string")
    out = curation.perplexity_buckets(df, "doc_id", "text", "lang")
    got = {r["doc_id"]: r for r in out.collect()}
    assert 99 not in got and len(got) == 9
    buckets = {d: got[d]["bucket"] for d in got}
    assert all(buckets[d] == "head" for d in (0, 1, 2)), buckets
    assert all(buckets[d] == "tail" for d in (6, 7, 8)), buckets
    assert all(buckets[d] == "middle" for d in (3, 4, 5)), buckets
    # head ppl strictly below tail ppl, cuts attached consistently
    assert max(got[d]["ppl"] for d in (0, 1, 2)) <= \
        got[0]["head_cut"] < got[6]["ppl"]


def test_perplexity_buckets_cuts_are_per_stratum(spark):
    # the same text distribution in two languages gets independent cuts
    rows = []
    for lang in ("aa", "bb"):
        for i in range(6):
            base = 1000 if lang == "aa" else 2000
            txt = ("spark table " * (6 - i)) + f"unique{lang}{i} " \
                + f"rare{lang}{i} odd{lang}{i}"
            rows.append((base + i, txt, lang))
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                     "lang string")
    out = curation.perplexity_buckets(df, "doc_id", "text", "lang")
    per_lang = {}
    for r in out.collect():
        per_lang.setdefault(r["lang"], set()).add(r["bucket"])
    assert per_lang["aa"] == {"head", "middle", "tail"}
    assert per_lang["bb"] == {"head", "middle", "tail"}


# --------------------------------------------------------- classifier training

def test_train_classifier_separates_classes_via_inference(spark):
    pos = "clean well written prose flows nicely here "
    neg = "spam junk garbage noise filler blob "
    rows = [(i, (pos if i % 2 == 0 else neg) * 3,
             1.0 if i % 2 == 0 else 0.0) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                     "y double")
    w = curation.train_quality_classifier(df, "doc_id", "text", "y",
                                          dim=1024, n_iter=5, lr=1.0)
    scored = curation.classifier_quality_score(
        df, "doc_id", "text", w, dim=1024)
    got = {r["doc_id"]: r["score"] for r in scored.collect()}
    pos_s = [got[d] for d in got if d % 2 == 0]
    neg_s = [got[d] for d in got if d % 2 == 1]
    assert min(pos_s) > 0.5 > max(neg_s), (min(pos_s), max(neg_s))


def test_train_classifier_deterministic_under_repartition(spark):
    rows = [(i, f"alpha beta common{i % 3} word soup", float(i % 2))
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                     "y double")
    a = {r["bucket"]: r["weight"]
         for r in curation.train_quality_classifier(
             df, "doc_id", "text", "y", dim=512, n_iter=3).collect()}
    b = {r["bucket"]: r["weight"]
         for r in curation.train_quality_classifier(
             df.repartition(11), "doc_id", "text", "y",
             dim=512, n_iter=3).collect()}
    assert a == b and len(a) > 0


def test_train_classifier_empty_docs_and_validation(spark):
    df = spark.createDataFrame(
        [(1, "real words here", 1.0), (2, None, 0.0), (3, "", 0.0),
         (4, "more real words", 0.0)],
        "doc_id bigint, text string, y double")
    w = curation.train_quality_classifier(df, "doc_id", "text", "y",
                                          dim=256, n_iter=1)
    assert w.count() > 0  # tokenless docs excluded, training still runs
    with pytest.raises(ValueError):
        curation.train_quality_classifier(df, "doc_id", "text", "y",
                                          n_iter=0)


def test_train_classifier_releases_training_caches(spark):
    """labels+feats (persist) must be unpersisted on return; only the
    weight localCheckpoints may add storage entries (initial + final
    = 2 for n_iter=1). Pre-fix the two leaked persists made the
    delta 4."""
    rows = [(i, f"alpha beta common{i % 3}", float(i % 2))
            for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                     "y double")
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    w = curation.train_quality_classifier(df, "doc_id", "text", "y",
                                          dim=128, n_iter=1)
    assert w.count() > 0
    after = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    assert after - before <= 2, (before, after)


# ------------------------------------------------------- temperature mixture

def _tm_corpus(spark):
    rows = [(i, "w " * 20, "big") for i in range(90)]
    rows += [(1000 + i, "w " * 20, "small") for i in range(10)]
    return spark.createDataFrame(rows, "doc_id bigint, text string, "
                                       "lang string")


def test_temperature_mixture_tau1_is_natural(spark):
    out = curation.temperature_mixture(_tm_corpus(spark), "lang",
                                       "text", tau=1.0)
    for r in out.collect():
        assert abs(r["temp_share"] - r["current_share"]) < 2e-6
        assert abs(r["repeat_factor"] - 1.0) < 1e-5


def test_temperature_mixture_flattens_and_boosts_rare(spark):
    out = {r["lang"]: r for r in curation.temperature_mixture(
        _tm_corpus(spark), "lang", "text", tau=2.0).collect()}
    small, big = out["small"], out["big"]
    # rare stratum gains share, dominant loses; boost > 1 only for rare
    assert small["temp_share"] > small["current_share"]
    assert big["temp_share"] < big["current_share"]
    assert small["repeat_factor"] > 1.0 > big["repeat_factor"]
    # sample_rate normalized: max is exactly 1
    assert max(r["sample_rate"] for r in out.values()) == 1.0
    # shares still sum to ~1
    assert abs(sum(r["temp_share"] for r in out.values()) - 1.0) < 1e-5


def test_temperature_mixture_validates_tau(spark):
    with pytest.raises(ValueError):
        curation.temperature_mixture(_tm_corpus(spark), "lang", "text",
                                     tau=0.0)


# ------------------------------------------------------- retrieval metrics

def test_retrieval_metrics_ndcg_recall_mrr(spark):
    import math

    from zacks_estimates_financial_statements_spark.operators import retrieval

    results = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
         ("q2", "x", 1), ("q2", "y", 2),
         ("q3", "z", 1)],
        "query_id string, doc_id string, rank int")
    qrels = spark.createDataFrame(
        [("q1", "b", 2), ("q1", "c", 1), ("q1", "d", 3),
         ("q2", "y", 1)],
        "query_id string, doc_id string, grade int")
    got = {r["query_id"]: r for r in retrieval.retrieval_metrics(
        results, qrels, k=3).collect()}

    def gain(g, r):
        return round((2 ** g - 1) / math.log2(r + 1), 6)

    q1 = got["q1"]
    assert (q1["n_relevant"], q1["hits_at_k"]) == (3, 2)
    assert q1["recall_at_k"] == round(2 / 3, 6)
    assert q1["precision_at_k"] == round(2 / 3, 6)
    assert q1["mrr"] == 0.5  # first relevant at rank 2
    dcg = gain(2, 2) + gain(1, 3)
    idcg = gain(3, 1) + gain(2, 2) + gain(1, 3)  # ideal: d, b, c
    assert q1["ndcg_at_k"] == round(dcg / idcg, 6)
    q2 = got["q2"]
    assert (q2["hits_at_k"], q2["mrr"]) == (1, 0.5)
    assert q2["ndcg_at_k"] == round(gain(1, 2) / gain(1, 1), 6)
    # q3 has no judged-relevant docs: recall/ndcg NULL, mrr 0
    q3 = got["q3"]
    assert q3["n_relevant"] == 0 and q3["hits_at_k"] == 0
    assert q3["recall_at_k"] is None and q3["ndcg_at_k"] is None
    assert q3["mrr"] == 0.0
    with pytest.raises(ValueError):
        retrieval.retrieval_metrics(results, qrels, k=0)


def test_retrieval_metrics_rank_filter_respects_k(spark):
    from zacks_estimates_financial_statements_spark.operators import retrieval
    results = spark.createDataFrame(
        [("q", "a", 1), ("q", "b", 2), ("q", "c", 3)],
        "query_id string, doc_id string, rank int")
    qrels = spark.createDataFrame([("q", "c", 1)],
                                  "query_id string, doc_id string, "
                                  "grade int")
    got = retrieval.retrieval_metrics(results, qrels, k=2).collect()[0]
    # the only relevant doc sits at rank 3 > k: zero hits, mrr 0
    assert got["hits_at_k"] == 0 and got["mrr"] == 0.0
    assert got["recall_at_k"] == 0.0


# --------------------------------------------------- semantic contamination

def test_semantic_contamination_flags_near_duplicates(spark):
    from zacks_estimates_financial_statements_spark.operators import curation as cur

    def vec(*xs):
        return [float(x) for x in xs]

    corpus = spark.createDataFrame(
        [(1, vec(1, 0, 0, 0)), (2, vec(0, 1, 0, 0)),
         (3, vec(0, 0, 1, 0)), (4, vec(0.9, 0.1, 0, 0))],
        "vec_id bigint, embedding array<float>")
    bench = spark.createDataFrame(
        [(100, vec(1, 0.01, 0, 0)), (101, vec(0, 0, 0, 1))],
        "vec_id bigint, embedding array<float>")
    got = {r["vec_id"]: r for r in cur.semantic_contamination(
        corpus, bench, "vec_id", "embedding", threshold=0.95).collect()}
    assert len(got) == 4  # every corpus row annotated
    assert got[1]["contaminated"] and got[1]["nearest_bench_id"] == 100
    assert got[4]["contaminated"]  # paraphrase-like neighbor
    assert not got[2]["contaminated"] and not got[3]["contaminated"]
    assert got[2]["max_cosine"] is not None  # compared, just far


def test_semantic_contamination_excludes_self_pairs(spark):
    from zacks_estimates_financial_statements_spark.operators import curation as cur

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<float>")
    # benchmark drawn FROM the corpus: id 1 must not flag itself
    got = {r["vec_id"]: r for r in cur.semantic_contamination(
        corpus, corpus.filter("vec_id = 1"), "vec_id", "embedding",
        threshold=0.99).collect()}
    assert not got[1]["contaminated"]
    assert got[1]["max_cosine"] is None  # only the self pair existed


def test_semantic_contamination_string_bench_ids(spark):
    # eval-set ids are commonly strings — the nearest-id tie-break
    # must not negate the id column (ANSI would throw); ties on
    # cosine break to the SMALLEST id.
    from zacks_estimates_financial_statements_spark.operators import curation as cur

    corpus = spark.createDataFrame(
        [("doc1", [1.0, 0.0])], "vec_id string, embedding array<float>")
    bench = spark.createDataFrame(
        [("mmlu/b", [1.0, 0.0]), ("mmlu/a", [1.0, 0.0]),
         ("gsm8k/z", [0.0, 1.0])],
        "vec_id string, embedding array<float>")
    got = cur.semantic_contamination(
        corpus, bench, "vec_id", "embedding", threshold=0.95).collect()
    assert len(got) == 1
    assert got[0]["contaminated"]
    assert got[0]["nearest_bench_id"] == "mmlu/a"


# ---------------------------------------------------------- Kneser-Ney LM

def test_kn_perplexity_hand_computed(spark):
    import math

    df = spark.createDataFrame([(1, "a b a b"), (2, "a c"), (3, "x")],
                               "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in curation.kn_perplexity(
        df, "doc_id", "text").collect()}
    assert set(got) == {1, 2}  # 1-token doc drops out
    # corpus model: C12 {ab:2, ba:1, ac:1}; C(a.)=3, C(b.)=1;
    # N1+(a.)=2, N1+(b.)=1; N1+(.b)=1, N1+(.a)=1, N1+(.c)=1; nb=3
    d = 0.75

    def P(c12, c1, n1r, n1l):
        return max(c12 - d, 0.0) / c1 + d * n1r / c1 * (n1l / 3.0)

    def nll(p):
        return round(-math.log(p), 6)

    s1 = nll(P(2, 3, 2, 1)) * 2 + nll(P(1, 1, 1, 1))  # ab, ab, ba
    assert got[1]["n_bigrams"] == 3
    assert got[1]["ppl"] == round(math.exp(s1 / 3), 6)
    s2 = nll(P(1, 3, 2, 1))                            # ac
    assert got[2]["n_bigrams"] == 1
    assert got[2]["ppl"] == round(math.exp(s2), 6)


def test_kn_perplexity_ranks_repetition_below_soup(spark):
    # the quality-signal property: repeated predictable chains score
    # lower ppl than near-unique-bigram word soup
    rows = [(1, "spark table spark table spark table spark table"),
            (2, "qq ww ee rr tt yy uu ii oo pp")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["ppl"] for r in curation.kn_perplexity(
        df, "doc_id", "text").collect()}
    assert got[1] < got[2]


def test_kn_perplexity_deterministic_under_repartition(spark):
    rows = [(i, f"alpha beta w{i % 5} gamma alpha beta")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(map(tuple, curation.kn_perplexity(
        df, "doc_id", "text").collect()))
    b = sorted(map(tuple, curation.kn_perplexity(
        df.repartition(7), "doc_id", "text").collect()))
    assert a == b


# ------------------------------------------------------ unigram tokenizer

def test_unigram_seed_vocab_chars_always_kept_and_costs(spark):
    import math

    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    df = spark.createDataFrame([(1, "abab ab"), (2, "abab cd")],
                               "doc_id bigint, text string")
    v = {r["piece"]: r for r in TK.unigram_seed_vocab(
        df, "text", vocab_size=2, max_piece_len=2).collect()}
    # chars a,b,c,d always present; top-2 multi pieces by freq
    assert {"a", "b", "c", "d"} <= set(v)
    multi = [p for p in v if len(p) > 1]
    assert len(multi) == 2 and "ab" in multi  # 'ab' is the hot piece
    # substring occurrences: 'abab' x2 -> a:2/word... freq('ab')=
    # 2 per 'abab' x 2 words + 1 in 'ab' = 5
    assert v["ab"]["freq"] == 5
    tot = sum(r["freq"] for r in v.values())
    for r in v.values():
        assert r["cost"] == round(-math.log(r["freq"] / tot), 6)
    with pytest.raises(ValueError):
        TK.unigram_seed_vocab(df, "text", max_piece_len=1)


def test_unigram_encode_viterbi_picks_min_cost_path(spark):
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    docs = spark.createDataFrame([(1, "abab unk")],
                                 "doc_id bigint, text string")
    vocab = spark.createDataFrame(
        [("ab", 0.5), ("a", 1.0), ("b", 1.2), ("u", 1.0), ("n", 1.0),
         ("k", 1.0), ("aba", 1.6)],
        "piece string, cost double")
    got = TK.unigram_encode(docs, "doc_id", "text", vocab).collect()[0]
    # 'abab': [ab, ab]=1.0 beats [aba, b]=2.8 and chars=4.4;
    # 'unk' has no multi pieces -> chars
    assert got["pieces"] == ["ab", "ab", "u", "n", "k"]
    assert got["n_pieces"] == 5


def test_unigram_encode_unk_chars_and_empty_docs(spark):
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    docs = spark.createDataFrame([(1, "xy"), (2, ""), (3, None)],
                                 "doc_id bigint, text string")
    vocab = spark.createDataFrame([("x", 1.0)], "piece string, cost double")
    got = {r["doc_id"]: r for r in TK.unigram_encode(
        docs, "doc_id", "text", vocab).collect()}
    assert got[1]["pieces"] == ["x", "y"]  # y falls back to unk_cost
    assert got[2]["pieces"] == [] and got[3]["pieces"] == []


def test_unigram_encode_tie_prefers_longest_piece(spark):
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    # [ab] cost 2.0 ties [a, b] = 1.0 + 1.0: the longest-piece rule
    # (earliest candidate in (e, s) order -> smallest s) must win
    docs = spark.createDataFrame([(1, "ab")],
                                 "doc_id bigint, text string")
    vocab = spark.createDataFrame(
        [("ab", 2.0), ("a", 1.0), ("b", 1.0)], "piece string, cost double")
    got = TK.unigram_encode(docs, "doc_id", "text", vocab).collect()[0]
    assert got["pieces"] == ["ab"]


def test_unigram_roundtrip_covers_text_and_is_deterministic(spark):
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    rows = [(i, f"spark engine sparkly w{i % 7} engineering spark")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    vocab = TK.unigram_seed_vocab(docs, "text", vocab_size=20,
                                  max_piece_len=4)
    enc = TK.unigram_encode(docs, "doc_id", "text", vocab)
    rows1 = {r["doc_id"]: r["pieces"] for r in enc.collect()}
    # concatenated pieces reproduce the tokenized words exactly
    toks = docs.select(
        "doc_id",
        F.concat_ws("", F.array_remove(
            F.split(F.lower("text"), r"[^a-z0-9_]+"), "")).alias("__j"))
    for r in toks.collect():
        assert "".join(rows1[r["doc_id"]]) == r["__j"]
    rows2 = {r["doc_id"]: r["pieces"] for r in TK.unigram_encode(
        docs.repartition(7), "doc_id", "text", vocab).collect()}
    assert rows1 == rows2


def test_unigram_train_em_prunes_and_reweights(spark):
    import math

    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    # 'abab' dominates: EM should keep 'ab' (used by Viterbi) and
    # prune multi pieces the segmentation never uses (e.g. 'ba')
    rows = [(i, "abab abab cd") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    v = TK.unigram_train(docs, "text", vocab_size=10, max_piece_len=2,
                         n_iters=2)
    got = {r["piece"]: r for r in v.collect()}
    assert "ab" in got            # the winning piece survives
    assert "ba" not in got        # never on a Viterbi path -> pruned
    # chars survive with a count floor even when unused
    for ch in "abcd":
        assert ch in got and got[ch]["count"] >= 1
    # 'ab' used twice per 'abab' word-occurrence x 20 = 40
    assert got["ab"]["count"] == 40
    tot = sum(r["count"] for r in got.values())
    for r in got.values():
        assert r["cost"] == round(-math.log(r["count"] / tot), 6)
    # the trained model plugs straight into the encoder
    enc = TK.unigram_encode(docs, "doc_id", "text",
                            v.select("piece", "cost")).collect()[0]
    assert enc["pieces"][:2] == ["ab", "ab"]
    with pytest.raises(ValueError):
        TK.unigram_train(docs, "text", n_iters=0)


def test_unigram_train_deterministic_under_repartition(spark):
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    rows = [(i, f"spark sparkly engine w{i % 4} spark") for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(map(tuple, TK.unigram_train(
        docs, "text", vocab_size=12, max_piece_len=3).collect()))
    b = sorted(map(tuple, TK.unigram_train(
        docs.repartition(9), "text", vocab_size=12,
        max_piece_len=3).collect()))
    assert a == b and len(a) > 0


# ------------------------------------------------------ repeated-span removal

def test_drop_repeated_spans_cuts_boilerplate_everywhere(spark):
    boiler = "accept all cookies to continue"
    rows = [(1, f"{boiler} unique one text here"),
            (2, f"other words {boiler} more tail"),
            (3, f"third copy {boiler} end bits"),
            (4, "completely unique document body"),
            (5, ""), (6, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in curation.drop_repeated_spans(
        df, "doc_id", "text", k=5, min_docs=3).collect()}
    assert len(out) == 6                      # every doc gets a row
    assert out[1]["clean_text"] == "unique one text here"
    assert out[2]["clean_text"] == "other words more tail"
    assert out[3]["clean_text"] == "third copy end bits"
    for d in (1, 2, 3):
        assert out[d]["n_removed"] == 5
    # untouched docs round-trip their normalized text
    assert out[4]["clean_text"] == "completely unique document body"
    assert out[4]["n_removed"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_kept"] == 0
    assert out[6]["clean_text"] == "" and out[6]["n_removed"] == 0


def test_drop_repeated_spans_merges_overlaps_and_keeps_order(spark):
    # two overlapping repeated windows merge into one removed island;
    # kept tokens must re-join in original order
    shared = "a b c d e f"
    rows = [(1, f"x1 {shared} y1 z1"), (2, f"x2 {shared} y2"),
            (3, f"{shared} tail3")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in curation.drop_repeated_spans(
        df, "doc_id", "text", k=4, min_docs=3).collect()}
    assert out[1]["clean_text"] == "x1 y1 z1"
    assert out[2]["clean_text"] == "x2 y2"
    assert out[3]["clean_text"] == "tail3"
    assert all(out[d]["n_removed"] == 6 for d in (1, 2, 3))


# ------------------------------------------------------------------ c4 clean

def test_c4_clean_line_rules(spark):
    rows = [
        (1, "A good long sentence right here.\nshort one\n"
            "Ends with a question mark maybe?\nNo terminal punctuation here"),
        (2, "Please enable javascript to view this page.\n"
            "This clean line survives the filter fine."),
        (3, ""), (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in curation.c4_clean(
        df, "doc_id", "text").collect()}
    assert len(out) == 4
    assert out[1]["clean_text"] == ("A good long sentence right here.\n"
                                    "Ends with a question mark maybe?")
    assert out[1]["n_lines"] == 4 and out[1]["n_kept_lines"] == 2
    assert out[1]["keep"]
    # javascript phrase drops the line, not the doc
    assert out[2]["clean_text"] == "This clean line survives the filter fine."
    assert out[2]["keep"]
    assert out[3]["n_kept_lines"] == 0 and not out[3]["keep"]
    assert out[4]["n_lines"] == 0 and out[4]["clean_text"] == "" \
        and not out[4]["keep"]


def test_c4_clean_doc_flags_and_badword_token_boundary(spark):
    rows = [
        (1, "Nice sentence one stands alone here.\n"
            "Some lorem ipsum filler text follows."),
        (2, "A code snippet appears below this text. {"),
        (3, "The word badness is not the blocked token."),
        (4, "Here the blocked badword shows up plainly."),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in curation.c4_clean(
        df, "doc_id", "text", badwords=("badword",)).collect()}
    assert out[1]["has_doc_drop"] and not out[1]["keep"]
    # flagged docs still carry their cleaned text (annotate, don't drop)
    assert out[1]["n_kept_lines"] == 2
    assert out[2]["has_doc_drop"] and not out[2]["keep"]
    assert not out[3]["has_badword"] and out[3]["keep"]   # substring no-hit
    assert out[4]["has_badword"] and not out[4]["keep"]


def test_c4_clean_min_words_and_min_kept_lines(spark):
    # lines under C4_MIN_LINE_WORDS (3) words drop; two kept lines pass
    # min_kept_lines=2, one does not
    df = spark.createDataFrame(
        [(1, "One two three.\nOne two.\nTiny."),
         (2, "One two three.\nFour five six.\nTiny.")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in curation.c4_clean(
        df, "doc_id", "text", min_kept_lines=2).collect()}
    assert out[1]["clean_text"] == "One two three." and not out[1]["keep"]
    assert out[2]["clean_text"] == "One two three.\nFour five six." \
        and out[2]["keep"]


# ----------------------------------------------------------- pmi collocations

def test_pmi_collocations_values(spark):
    import math
    # corpus: "a b" x3 and "c d" x1, plus stray "a", "d"
    rows = [(1, "a b a b"), (2, "a b c d"), (3, "a d")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {(r["w1"], r["w2"]): r for r in curation.pmi_collocations(
        df, "doc_id", "text", min_count=1).collect()}
    # T=10 tokens, B=7 adjacent pairs
    ab = out[("a", "b")]
    assert ab["pair_count"] == 3 and ab["w1_count"] == 4 \
        and ab["w2_count"] == 3
    exp = round(math.log((3 / 7) / ((4 / 10) * (3 / 10))), 6)
    assert abs(ab["pmi"] - exp) < 1e-9
    assert ("b", "a") in out and out[("b", "a")]["pair_count"] == 1
    # min_count prunes
    pruned = {(r["w1"], r["w2"]) for r in curation.pmi_collocations(
        df, "doc_id", "text", min_count=2).collect()}
    assert pruned == {("a", "b")}


def test_pmi_collocations_empty_and_single_token_docs(spark):
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, None), (4, "x y"), (5, "x y")],
        "doc_id bigint, text string")
    out = curation.pmi_collocations(df, "doc_id", "text",
                                    min_count=2).collect()
    assert len(out) == 1 and out[0]["pair_count"] == 2
    # the stray "solo" token still counts toward T (changes pmi)
    import math
    exp = round(math.log((2 / 2) / ((2 / 5) * (2 / 5))), 6)
    assert abs(out[0]["pmi"] - exp) < 1e-9


# -------------------------------------------------------------- phrase search

def test_phrase_search_exact_and_repeated_terms(spark):
    from zacks_estimates_financial_statements_spark.operators import retrieval

    rows = [(1, "the quick brown fox jumps"),
            (2, "quick brown shoes but quick brown fox too"),
            (3, "brown quick nothing"),
            (4, "fox fox fox"), (5, ""), (6, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["doc_id"], r["match_pos"])
           for r in retrieval.phrase_search(
               df, "doc_id", "text", ["quick", "brown", "fox"]).collect()}
    assert got == {(1, 2), (2, 5)}
    # repeated-term phrase: overlapping occurrences all reported
    rep = {(r["doc_id"], r["match_pos"])
           for r in retrieval.phrase_search(
               df, "doc_id", "text", ["fox", "fox"]).collect()}
    assert rep == {(4, 1), (4, 2)}
    # single-token phrase = positional term lookup
    single = {(r["doc_id"], r["match_pos"])
              for r in retrieval.phrase_search(
                  df, "doc_id", "text", ["fox"]).collect()}
    assert single == {(1, 4), (2, 7), (4, 1), (4, 2), (4, 3)}


def test_phrase_search_case_and_punct_normalized(spark):
    from zacks_estimates_financial_statements_spark.operators import retrieval

    df = spark.createDataFrame([(1, "New York's finest, truly.")],
                               "doc_id bigint, text string")
    got = retrieval.phrase_search(df, "doc_id", "text",
                                  ["new", "york"]).collect()
    assert [(r["doc_id"], r["match_pos"]) for r in got] == [(1, 1)]


# ----------------------------------------------------------- calibration bins

def test_calibration_bins_values_and_edges(spark):
    rows = [(0.05, False), (0.05, True),     # bin 0: conf .05, acc .5
            (0.95, True), (0.95, True),      # bin 9
            (1.0, True),                     # score 1.0 clamps to bin 9
            (0.55, False),                   # bin 5
            (None, True), (0.5, None)]       # dropped
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = {r["bin"]: r for r in curation.calibration_bins(
        df, "score", "label", n_bins=10).collect()}
    assert set(out) == {0, 5, 9}
    assert out[0]["n"] == 2 and out[0]["mean_score"] == 0.05 \
        and out[0]["frac_pos"] == 0.5 and out[0]["gap"] == 0.45
    assert out[9]["n"] == 3 and out[9]["frac_pos"] == 1.0
    assert abs(out[9]["mean_score"] - round((0.95 * 2 + 1.0) / 3, 6)) < 1e-9
    assert out[5]["frac_pos"] == 0.0 and out[5]["gap"] == -0.55
    # ECE from the bins: sum(n/N * |gap|) over the 6 counted rows
    ece = sum(r["n"] * abs(r["gap"]) for r in out.values()) / 6
    assert 0 < ece < 1


# ------------------------------------------------------- tokenizer fertility

def test_tokenizer_fertility_metrics(spark):
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    docs = spark.createDataFrame(
        [(1, "aa bb", "en"), (2, "aa", "en"), (3, "cc dd ee", "fr"),
         (4, "", "fr")],
        "doc_id bigint, text string, lang string")
    # encoder stub: every word splits into single chars (fertility 2.0)
    enc = spark.createDataFrame(
        [(1, ["a", "a", "b", "b"], 4), (2, ["a", "a"], 2),
         (3, ["c", "c", "d", "d", "e", "e"], 6), (4, [], 0)],
        "doc_id bigint, pieces array<string>, n_pieces int")
    out = {r["stratum"]: r for r in TK.tokenizer_fertility(
        docs, enc, "doc_id", "text", "lang").collect()}
    en, fr = out["en"], out["fr"]
    assert en["n_docs"] == 2 and en["n_words"] == 3 and en["n_pieces"] == 6
    assert en["fertility"] == 2.0 and en["chars_per_piece"] == 1.0
    assert fr["n_docs"] == 2 and fr["n_words"] == 3
    assert fr["fertility"] == 2.0


def test_tokenizer_fertility_zero_word_stratum(spark):
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    docs = spark.createDataFrame([(1, "...", "xx")],
                                 "doc_id bigint, text string, lang string")
    enc = spark.createDataFrame([(1, [], 0)],
                                "doc_id bigint, pieces array<string>, n_pieces int")
    out = TK.tokenizer_fertility(docs, enc, "doc_id", "text",
                                 "lang").collect()
    assert len(out) == 1
    assert out[0]["fertility"] is None and out[0]["chars_per_piece"] is None


def test_tokenizer_fertility_with_real_bpe_encoder(spark):
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat", "en") for i in range(4)]
        + [(9, "unseen wordforms dominate here", "de")],
        "doc_id bigint, text string, lang string")
    merges = TK.bpe_train(docs, "text", n_merges=4)
    enc = TK.bpe_encode(docs, "doc_id", "text", merges)
    out = {r["stratum"]: r for r in TK.tokenizer_fertility(
        docs, enc, "doc_id", "text", "lang").collect()}
    # merges were learned on the en-dominated corpus: en fertility is
    # strictly lower than the unseen-word stratum's
    assert out["en"]["fertility"] < out["de"]["fertility"]


# ----------------------------------------------------------------- readability

def test_readability_scores_known_text(spark):
    from zacks_estimates_financial_statements_spark.functions import text as TXT

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran away! Did it rain?"),
         (2, "no terminal punctuation here"),
         (3, ""), (4, None)],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *TXT.readability_scores(F.col("text"))).collect()}
    r1 = out[1]
    assert r1["n_words"] == 10 and r1["n_sents"] == 3
    # vowel-group syllables: the cat sat the dog ran did it rain = 1
    # each, away = 2 (a, ay) -> 11 total
    assert r1["n_syllables"] == 11
    wps, spw = 10 / 3, 11 / 10
    assert abs(r1["flesch_ease"]
               - round(206.835 - 1.015 * wps - 84.6 * spw, 6)) < 1e-9
    assert abs(r1["fk_grade"]
               - round(0.39 * wps + 11.8 * spw - 15.59, 6)) < 1e-9
    assert out[2]["n_sents"] == 1          # floor when words exist
    assert out[3]["flesch_ease"] is None and out[3]["n_words"] == 0
    assert out[4]["flesch_ease"] is None


# ------------------------------------------------- diversity / novelty / fold

def test_ngram_diversity_counts(spark):
    rows = [(1, "a a a a", "x"), (2, "a b c d", "x"), (3, "p q", "y")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {(r["stratum"], r["n"]): r for r in curation.ngram_diversity(
        df, "doc_id", "text", "lang").collect()}
    # stratum x, n=1: 8 tokens, distinct {a,b,c,d} = 4
    assert out[("x", 1)]["total_grams"] == 8
    assert out[("x", 1)]["distinct_grams"] == 4
    assert out[("x", 1)]["ratio"] == 0.5
    # stratum x, n=2: "a a"x3 + "a b","b c","c d" -> 6 total, 4 distinct
    assert out[("x", 2)]["total_grams"] == 6
    assert out[("x", 2)]["distinct_grams"] == 4
    # y has no trigrams: no (y, 3) row
    assert ("y", 3) not in out and out[("y", 2)]["total_grams"] == 1


def test_novelty_score_anti_join_semantics(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"),     # shares "a b c" etc with ref partially
         (2, "x y z w"),       # fully novel
         (3, "a b c"),         # fully covered
         (4, "q r")],          # too short for trigrams
        "doc_id bigint, text string")
    ref = spark.createDataFrame([(9, "a b c d")],
                                "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in curation.novelty_score(
        docs, ref, "doc_id", "text", n=3).collect()}
    # doc 1 trigrams: "a b c","b c d" covered; "c d e" novel -> 1/3
    assert out[1]["n_grams"] == 3 and out[1]["n_novel"] == 1
    assert abs(out[1]["novelty"] - round(1 / 3, 6)) < 1e-9
    assert out[2]["novelty"] == 1.0
    assert out[3]["novelty"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["novelty"] is None


def test_ascii_fold_table(spark):
    from zacks_estimates_financial_statements_spark.functions import text as TXT

    df = spark.createDataFrame(
        [(1, "Crème brûlée à São Paulo — ÑOÑO übermäßig")],
        "doc_id bigint, text string")
    got = df.select(TXT.ascii_fold(F.col("text")).alias("f")).collect()
    # ß passes through (fold, not transliteration); dash untouched
    assert got[0]["f"] == "Creme brulee a Sao Paulo — NONO übermäßig" \
        .replace("ü", "u").replace("ä", "a")


# -------------------------------------------------------------- script profile

def test_script_profile_counts_blocks(spark):
    from zacks_estimates_financial_statements_spark.functions import text as TXT

    rows = [(1, "Hello Привет 日本語 한글 مرحبا Ω"),
            (2, "ascii only words"), (3, "1234 ... !!!"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *TXT.script_profile(F.col("text"))).collect()}
    r1 = out[1]
    assert r1["n_latin"] == 5                  # Hello
    assert r1["n_cyrillic"] == 6               # Привет
    assert r1["n_cjk"] == 3 and r1["n_hangul"] == 2
    assert r1["n_arabic"] == 5 and r1["n_greek"] == 1
    assert r1["n_letters"] == 22
    assert abs(r1["latin_share"] - round(5 / 22, 6)) < 1e-9
    assert out[2]["latin_share"] == 1.0 and out[2]["cjk_share"] == 0.0
    assert out[3]["n_letters"] == 0 and out[3]["latin_share"] is None
    assert out[4]["latin_share"] is None


# -------------------------------------------------------- corpus diff / sents

def test_corpus_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish"),
         (4, "Same   TEXT!?")],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(1, "same text"), (2, "now different"), (5, "brand new"),
         (4, "same text")],   # 4: only case/punct differ -> unchanged
        "doc_id bigint, text string")
    out = {r["doc_id"]: r["status"] for r in curation.corpus_diff(
        old, new, "doc_id", "text").collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "unchanged", 5: "added"}


def test_split_sentences_boundaries(spark):
    from zacks_estimates_financial_statements_spark.functions import text as TXT

    df = spark.createDataFrame(
        [(1, "First one. Second two!! Third three?   Tail no punct"),
         (2, "No boundary at all"), (3, "Ends clean."), (4, ""),
         (5, None)],
        "doc_id bigint, text string")
    rows = TXT.split_sentences(df, "doc_id", "text").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["sent_idx"], r["sentence"], r["n_words"]))
    assert [s for _, s, _ in sorted(by_doc[1])] == [
        "First one.", "Second two!!", "Third three?", "Tail no punct"]
    assert sorted(by_doc[1])[0][2] == 2
    assert by_doc[2] == [(1, "No boundary at all", 4)]
    assert by_doc[3] == [(1, "Ends clean.", 2)]   # trailing part empty
    assert 4 not in by_doc and 5 not in by_doc


# ------------------------------------------------------- decontaminate spans

def test_decontaminate_spans_surgical_removal(spark):
    bench = spark.createDataFrame(
        [(100, "the secret benchmark answer")],
        "doc_id bigint, text string")
    corpus = spark.createDataFrame(
        [(1, "intro words the secret benchmark answer closing words"),
         (2, "totally clean document body here"),
         (3, "the secret benchmark answer"),      # fully contaminated
         (4, "x the secret benchmark answer y the secret benchmark "
             "answer z")],                        # two hits, kept glue
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in curation.decontaminate_spans(
        corpus, bench, "doc_id", "text", n=4).collect()}
    assert out[1]["clean_text"] == "intro words closing words"
    assert out[1]["n_removed"] == 4
    assert out[2]["clean_text"] == "totally clean document body here"
    assert out[2]["n_removed"] == 0
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["clean_text"] == "x y z" and out[4]["n_removed"] == 8


def test_decontaminate_spans_merges_overlapping_hits(spark):
    # benchmark grams overlap in the corpus doc: one merged island,
    # no double removal
    bench = spark.createDataFrame([(9, "a b c d e")],
                                  "doc_id bigint, text string")
    corpus = spark.createDataFrame([(1, "start a b c d e end")],
                                   "doc_id bigint, text string")
    out = curation.decontaminate_spans(corpus, bench, "doc_id",
                                       "text", n=4).collect()[0]
    assert out["clean_text"] == "start end" and out["n_removed"] == 5


# ------------------------------------------------- punct fold / mojibake

def test_normalize_punct_folds_and_expands(spark):
    from zacks_estimates_financial_statements_spark.functions import text as TXT

    s = ("\u201cHi\u201d \u2014 it\u2019s \u00e6on\u2026 "
         "\ufb01ne\u00a0end")
    df = spark.createDataFrame([(1, s)], "doc_id bigint, text string")
    got = df.select(TXT.normalize_punct(F.col("text"))
                    .alias("c")).collect()[0]["c"]
    assert got == "\"Hi\" - it's aeon... fine end"


def test_mojibake_stats_detects_artifacts(spark):
    from zacks_estimates_financial_statements_spark.functions import text as TXT

    rows = [(1, "clean ascii text"),
            (2, "caf\u00c3\u00a9 broken"),            # mangled e-acute
            (3, "it\u00e2\u20ac\u2122s x \u00e2\u20ac\u0153q"),
            (4, "lost \ufffd byte \u00c2\u00b7 dot"),
            (5, "caf\u00e9 legitimate accents \u00f1")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *TXT.mojibake_stats(F.col("text"))).collect()}
    assert not out[1]["mojibake_flag"]
    assert out[2]["n_mojibake"] == 1 and out[2]["mojibake_flag"]
    assert out[3]["n_mojibake"] == 2
    assert out[4]["n_replacement"] == 1 and out[4]["n_mojibake"] == 1
    # real accented text must NOT trip the detector
    assert not out[5]["mojibake_flag"]


# ------------------------------------------------------------------ epoch plan

def test_epoch_plan_waterfill_caps_and_budget(spark):
    rows = [("small", "w " * 100), ("big", "w " * 1000)]
    df = spark.createDataFrame(rows, "src string, text string")
    # flattened weights (tau=5 -> share^0.2) + big budget: the small
    # stratum hits its 4-epoch cap, freed budget goes to the big one
    out = {r["stratum"]: r for r in curation.epoch_plan(
        df, "src", "text", budget_tokens=3000, max_epochs=4.0,
        tau=5.0).collect()}
    assert out["small"]["capped"] and out["small"]["epochs"] == 4.0
    assert not out["big"]["capped"]
    total = out["small"]["alloc_tokens"] + out["big"]["alloc_tokens"]
    assert abs(total - 3000) < 1.0          # budget exhausted
    # proportional regime (tau=1): equal epochs, nobody capped
    prop = {r["stratum"]: r for r in curation.epoch_plan(
        df, "src", "text", budget_tokens=2200, max_epochs=4.0,
        tau=1.0).collect()}
    assert abs(prop["small"]["epochs"] - prop["big"]["epochs"]) < 1e-4
    assert not prop["small"]["capped"] and not prop["big"]["capped"]


def test_epoch_plan_budget_exceeds_all_caps(spark):
    df = spark.createDataFrame([("a", "w " * 10), ("b", "w " * 20)],
                               "src string, text string")
    out = curation.epoch_plan(df, "src", "text", budget_tokens=10_000,
                              max_epochs=2.0).collect()
    assert all(r["capped"] and r["epochs"] == 2.0 for r in out)
    assert sum(r["alloc_tokens"] for r in out) == 60.0   # < budget


# ----------------------------------------------------- code score / url feats

def test_code_score_separates_code_from_prose(spark):
    from zacks_estimates_financial_statements_spark.functions import text as TXT

    code = ("def add(a, b):\n  total = a + b;\n  return total;\n"
            "class Thing:\n  pass")
    prose = ("The weather stayed pleasant throughout the afternoon "
             "and nobody mentioned anything unusual at all.")
    df = spark.createDataFrame([(1, code), (2, prose), (3, "")],
                               "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", *TXT.code_score(F.col("text"))).collect()}
    assert out[1]["n_braces"] >= 2 and out[1]["n_keywords"] >= 3
    assert out[1]["n_indented_lines"] == 3
    assert out[1]["code_score"] > 0.4
    assert out[2]["code_score"] < 0.1
    assert out[3]["code_score"] is None


def test_url_features_panel(spark):
    from zacks_estimates_financial_statements_spark.functions import web

    rows = [(1, "https://a.org/"),
            (2, "https://a.org/blog/2024/05/post-123?utm=x&ref=y"),
            (3, "https://a.org"),
            (4, "https://a.org/p/12345/")]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = {r["doc_id"]: r for r in web.url_features(
        df, "doc_id", "url").collect()}
    assert out[1]["depth"] == 0 and out[1]["is_index"]
    r2 = out[2]
    assert r2["depth"] == 4 and r2["n_params"] == 2 and not r2["is_index"]
    assert abs(r2["digit_frac"] - round(9 / len("/blog/2024/05/post-123"),
                                        6)) < 1e-9
    assert out[3]["path_len"] == 0 and out[3]["digit_frac"] is None \
        and out[3]["is_index"]
    assert out[4]["is_index"] and out[4]["digit_frac"] > 0.5


def test_unigram_caches_match_uncached_and_release(spark):
    """r13 persists: the opt-in freqs cache in unigram_seed_vocab and
    the vocab cache in unigram_encode change no values, and the
    enclosing cache_scope drops them without touching lineage."""
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK
    from zacks_estimates_financial_statements_spark.util import cache_scope

    df = spark.createDataFrame(
        [(i, "abab cdcd abcd unk " * (1 + i % 3)) for i in range(12)],
        "doc_id bigint, text string")
    plain = sorted(map(tuple, TK.unigram_seed_vocab(
        df, "text", vocab_size=4, max_piece_len=3).collect()))
    with cache_scope():
        seed = TK.unigram_seed_vocab(df, "text", vocab_size=4,
                                     max_piece_len=3, cache_freqs=True)
        assert sorted(map(tuple, seed.collect())) == plain
        enc = TK.unigram_encode(df, "doc_id", "text", seed)
        cached_rows = sorted(map(tuple, enc.collect()))
        assert seed.storageLevel.useMemory   # unigram_encode's vocab cache
    assert not seed.storageLevel.useMemory
    assert sorted(map(tuple, enc.collect())) == cached_rows
