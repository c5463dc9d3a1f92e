"""Dataset-curation operators for training-corpus pipelines.

Beyond dedup/similarity (operators/dedup.py, operators/similarity.py), a
large-scale training-data pipeline needs to *partition* and *grade* the
corpus: deterministic train/val/test assignment, per-stratum sampling,
and repetition ("boilerplate") signals of the kind used for corpus
quality filtering (Rae et al., *Scaling Language Models: Gopher*,
arXiv:2112.11446 §A1.1 — duplicate-n-gram and top-n-gram fractions).
No reference equivalent (the reference has no corpus surface); these are
extension scope like the rest of the document-shaped operators.

Scale notes (the point of doing these in Spark):

- ``hash_split`` / ``stratified_sample`` are pure projections over a
  keyed md5 — ZERO shuffles at any corpus size, and deterministic, so
  re-running a 100 TB split is embarrassingly parallel, idempotent and
  stable under repartitioning (unlike ``df.sample``/``randomSplit``,
  whose output depends on partition layout and seed plumbing).
- ``repetition_stats`` explodes one row per token n-gram and combines
  map-side: the shuffle carries narrow ``(doc, n, gram)`` rows bounded
  by corpus token count, and the second aggregation input is one row
  per distinct (doc, n, gram) — never a per-doc quadratic structure.
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import Column, DataFrame, functions as F

from zacks_estimates_financial_statements_spark.functions.text import simple_lower
from zacks_estimates_financial_statements_spark.operators.dedup import hash60
from zacks_estimates_financial_statements_spark.util import cache_scope, dec6, persist

#: bucket resolution for hash-based assignment: the keyed 60-bit hash is
#: reduced mod 1e6, so split weights / sample fractions are honored to
#: ±1e-6 — and the SAME integer thresholds are computable in ANSI SQL,
#: which keeps the DuckDB oracle twin exact.
_BUCKETS = 1_000_000


def _bucket(id_col, seed: str):
    """Deterministic bucket in [0, 1e6) from a seed-keyed md5 of the id.

    Cross-engine contract (CLAUDE.md): ``conv(substr(md5(x),1,15),16,10)``
    ≡ DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT``; both are
    non-negative (< 2^60), so ``% 1e6`` agrees without pmod care.
    """
    key = F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))
    return (hash60(key) % _BUCKETS).alias("bucket")


def hash_split(df: DataFrame, id_col: str,
               weights: Mapping[str, float],
               seed: str = "split") -> DataFrame:
    """Deterministic dataset split: adds ``bucket`` and ``split`` columns.

    Each row lands in the split whose cumulative weight interval contains
    its keyed hash bucket — disjoint, exhaustive, independent of
    partitioning and execution order, and stable across runs and engines
    (same assignment in the DuckDB oracle). Weights are normalized, so
    ``{"train": 8, "val": 1, "test": 1}`` works as well as fractions.

    NULL contract: a NULL id has no hash, hence NO split — ``bucket``
    and ``split`` are NULL and downstream ``split = '...'`` filters drop
    the row on both engines. (The naive ``when/otherwise`` chain would
    silently dump every NULL-id row into the LAST split, because a NULL
    bucket fails each ``<`` test — round-8 contract fuzz.)
    """
    if not weights:
        raise ValueError("weights must name at least one split")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    out = df.withColumn("bucket", _bucket(id_col, seed))
    cum = 0.0
    expr = None
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        threshold = int(round(cum * _BUCKETS))
        cond = F.col("bucket") < F.lit(threshold)
        expr = F.when(cond, F.lit(name)) if expr is None else \
            expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    split = last if expr is None else expr.otherwise(last)
    split = F.when(F.col("bucket").isNotNull(), split)
    return out.withColumn("split", split)


def split_thresholds(weights: Mapping[str, float]) -> list[tuple[str, int]]:
    """(name, exclusive upper bucket) pairs matching ``hash_split`` —
    exposed so SQL twins/tests can be generated from the same arithmetic
    instead of re-deriving (and drifting from) the rounding."""
    total = float(sum(weights.values()))
    out, cum = [], 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        out.append((name, int(round(cum * _BUCKETS))))
    out.append((names[-1], _BUCKETS))
    return out


def stratified_sample(df: DataFrame, strata_col: str, id_col: str,
                      fractions: Mapping[str, float] | float,
                      default_fraction: float = 0.0) -> DataFrame:
    """Deterministic per-stratum sample: keep a row iff its keyed hash
    bucket falls below its stratum's fraction threshold.

    Unlike ``DataFrame.sampleBy`` this is exactly reproducible across
    runs, engines and repartitioning (the keep decision is a pure
    function of the id), and it needs no per-stratum counts —
    one filter projection, zero shuffles, any corpus size. Strata not
    named in ``fractions`` use ``default_fraction``.
    """
    if isinstance(fractions, Mapping):
        thresh = None
        for name, frac in fractions.items():
            cond = F.col(strata_col) == F.lit(name)
            t = F.lit(int(round(float(frac) * _BUCKETS)))
            thresh = F.when(cond, t) if thresh is None else \
                thresh.when(cond, t)
        thresh = thresh.otherwise(
            F.lit(int(round(float(default_fraction) * _BUCKETS)))) \
            if thresh is not None else \
            F.lit(int(round(float(default_fraction) * _BUCKETS)))
    else:
        thresh = F.lit(int(round(float(fractions) * _BUCKETS)))
    return (df.withColumn("bucket", _bucket(id_col, "sample"))
            .filter(F.col("bucket") < thresh))


def weighted_sample(df: DataFrame, id_col: str, weight_col: str, n: int,
                    strata_col: str | None = None) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: top-``n``
    rows by the Efraimidis–Spirakis A-ES key (IPL 2006), where each
    row's inclusion probability is proportional to its weight.

    The A-ES key is ``u^(1/w)`` for uniform ``u``; ranking by the
    monotone-equivalent ``ln(u)/w`` avoids the overflow-prone power.
    ``u`` is not random but a pure function of the id — the
    keyed md5 bucket mapped to ``(0, 1)`` — so the sample is exactly
    reproducible across runs, engines and repartitioning, the property
    ``hash_split`` gives splits (``rand(seed)`` changes with partition
    layout; a 100 TB re-run must not). A NULL id therefore has no
    uniform (and no rank tie-break): NULL-id rows are excluded, like
    non-positive weights.

    With ``strata_col``, top-``n`` PER STRATUM via one window shuffle
    on the stratum (parallel across strata). Without it, a global
    top-``n``: ``orderBy(...).limit(n)`` — Spark's TakeOrdered keeps a
    size-``n`` heap per partition and merges on the driver, so the
    global path never sorts, shuffles, or single-partitions the full
    corpus; the rank window then runs over only ``n`` rows.

    Keys are rounded to 6 digits BEFORE ranking (both engines rank the
    identical rounded double; ties broken by id) — the cross-engine
    determinism contract the oracle check needs. Non-positive weights
    are excluded, per the sampling-design semantics (P ∝ w = 0).

    Output: input columns + ``es_key`` + ``rank`` (1-based within
    stratum or globally).
    """
    from pyspark.sql import Window

    u = (_bucket(id_col, "wsample") + F.lit(0.5)) / F.lit(float(_BUCKETS))
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 6)
    scored = (df.filter(F.col(weight_col) > 0)
              .filter(F.col(id_col).isNotNull())
              .withColumn("es_key", key))
    order = [F.col("es_key").desc(), F.col(id_col).desc()]
    if strata_col is not None:
        w = Window.partitionBy(strata_col).orderBy(*order)
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= n))
    top = scored.orderBy(*order).limit(n)
    w = Window.orderBy(*order)  # n rows only — bounded by the limit
    return top.withColumn("rank", F.row_number().over(w))


def token_frequencies(df: DataFrame, id_col: str, text_col: str,
                      min_tf: int = 1) -> DataFrame:
    """Corpus vocabulary: per-token term frequency, document frequency
    and smoothed IDF (``ln((N+1)/(df+1)) + 1``, the scikit-learn smooth
    variant) — the vocabulary/IDF build step of a tokenizer or TF-IDF
    quality pipeline. ``min_tf`` prunes the long hapax tail (at corpus
    scale most of the vocabulary is singletons).

    Plan shape: one token explode combined map-side into (token, doc)
    counts, then a per-token aggregation — two narrow shuffles, linear
    in corpus tokens. The corpus size ``N`` is a 1-row aggregate joined
    back by broadcast on a constant key, so the whole operator is one
    lazy plan with no driver-side action; ``df`` is still scanned twice
    (once for N, once for tokens) — persist it first if it sits on an
    expensive chained lineage. Tokenization matches
    ``functions.text.word_tokens`` (empties dropped), same as
    ``repetition_stats``.
    """
    if min_tf < 1:
        raise ValueError(f"min_tf must be >= 1, got {min_tf}")
    n_docs = (df.agg(F.count("*").cast("double").alias("__n"))
              .withColumn("__k", F.lit(1)))
    words = F.filter(F.split(simple_lower(F.col(text_col)), r"[^a-z0-9_]+"),
                     lambda x: x != "")
    toks = (df.select(F.col(id_col), F.explode(words).alias("token")))
    per_doc = toks.groupBy("token", id_col).agg(F.count("*").alias("__c"))
    return (per_doc.groupBy("token")
            .agg(F.sum("__c").alias("tf"),
                 F.count("*").alias("doc_freq"))
            .filter(F.col("tf") >= min_tf)
            .withColumn("__k", F.lit(1))
            .join(F.broadcast(n_docs), "__k")
            .withColumn("idf", F.round(
                F.log((F.col("__n") + 1.0) / (F.col("doc_freq") + 1.0))
                + 1.0, 6))
            .drop("__k", "__n"))


def _r6(c: Column) -> Column:
    """Cross-engine-deterministic 6-digit rounding for CHAINED iterate
    math: ``floor(x·1e6 + 0.5)/1e6`` is pure IEEE double arithmetic,
    bit-identical in any engine, where ``round(double, 6)`` resolves
    EXACT 7-digit halves differently across engines (Spark rounds the
    shortest decimal re-read half-up, DuckDB rounds the scaled double;
    measured 1.3 % divergence on exact-half draws). Only for values
    |x| < ~9e12 (bigint floor headroom) — fine for scores/weights."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def _word_array(text_col: str) -> Column:
    """Token array matching ``functions.text.word_tokens`` (lowercase,
    split on ``[^a-z0-9_]+``, empties dropped)."""
    return F.filter(F.split(simple_lower(F.col(text_col)), r"[^a-z0-9_]+"),
                    lambda x: x != "")


def _gram_array(words: Column, n: int) -> Column:
    """Distinct token n-grams of a materialized token-array column.
    ``sequence(1, 0)`` counts DOWN — short docs are guarded to empty."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return F.array_distinct(
        F.when(F.size(words) >= n, grams)
        .otherwise(F.array().cast("array<string>")))


def benchmark_contamination(corpus: DataFrame, benchmark: DataFrame,
                            id_col: str, text_col: str,
                            n: int = 13) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    distinct token ``n``-grams also occur in the benchmark set (the
    GPT-3-style n-gram overlap check — Brown et al., arXiv:2005.14165
    §C uses 13-gram collisions; pass ``n=13`` for that convention).

    Returns one row per corpus ROW (one per document when ids are
    unique): ``total_grams`` (distinct n-grams in the doc),
    ``overlap_grams`` (of those, how many appear anywhere in the
    benchmark) and ``contaminated`` (overlap > 0). Documents shorter
    than ``n`` tokens have 0/0/false.

    Duplicate-id contract (r9 contract fuzz, tightened for r10's
    conflicting-content clones): EVERY statistic is per PHYSICAL row's
    own text — ``overlap_grams`` groups matched grams by (id, content
    hash) and attaches back on the same key, so verbatim copies of one
    id carry identical panels (one output row each, no double-counted
    overlaps) while copies with DIVERGENT text are scored each on
    their own grams (the r9 per-id merge attached the UNION of both
    versions' grams to both rows — ``overlap_grams`` could exceed a
    row's own ``total_grams``). Dedup stays free: the content hash
    only widens the key of the overlap aggregation the plan already
    pays; the corpus-width totals projection never shuffles.

    Scale shape: benchmarks are tiny next to a training corpus, so the
    distinct benchmark gram set is broadcast — the corpus-side
    gram stream joins it map-side and never shuffles at corpus width;
    the only aggregations after the join carry matched grams (bounded
    by the benchmark's gram count × collision rate). The final attach
    of counts onto per-document totals is a narrow two-column join
    left to AQE — overlap counts are usually tiny (auto-broadcast) but
    nothing breaks when a corpus is pervasively contaminated.
    ``total_grams`` itself is a per-row projection.
    """
    # Two hard-won plan rules meet here. (1) Materialize the word
    # split before the gram lambdas reference it — Catalyst does not
    # CSE through lambda functions, so an inline split re-tokenizes
    # the document once per gram position. (2) Explode the gram arrays
    # with explode_OUTER: plain explode triggers
    # InferFiltersFromGenerate, which pushes an inferred
    # `size(grams) > 0` predicate below the projections with the WHOLE
    # gram expression inlined over raw text — re-tokenizing per row a
    # second way (measured 27 s -> 3 s for the corpus gram stream at
    # sf0.1). The null rows explode_outer emits for gram-less docs
    # vanish in the inner gram join.
    corpus_w = corpus.select(F.col(id_col),
                             F.xxhash64(F.col(text_col)).alias("__k"),
                             _word_array(text_col).alias("__w"))
    per_doc = corpus_w.select(
        F.col(id_col), "__k", _gram_array(F.col("__w"), n).alias("__grams"))
    totals = per_doc.select(
        id_col, "__k", F.size("__grams").cast("bigint").alias("total_grams"))
    bench_w = benchmark.select(_word_array(text_col).alias("__w"))
    bench_grams = (bench_w
                   .select(F.explode_outer(_gram_array(F.col("__w"), n))
                           .alias("gram"))
                   .distinct())
    corpus_grams = per_doc.select(id_col, "__k",
                                  F.explode_outer("__grams").alias("gram"))
    overlaps = (corpus_grams.join(F.broadcast(bench_grams), "gram")
                .groupBy(id_col, "__k")
                .agg(F.countDistinct("gram").alias("overlap_grams")))
    return (totals.join(overlaps, [id_col, "__k"], "left")
            .select(id_col, "total_grams",
                    F.coalesce("overlap_grams", F.lit(0)).cast("bigint")
                    .alias("overlap_grams"))
            .withColumn("contaminated", F.col("overlap_grams") > 0))


def semantic_contamination(corpus: DataFrame, benchmark: DataFrame,
                           id_col: str, vec_col: str,
                           threshold: float = 0.9) -> DataFrame:
    """Embedding-tier benchmark decontamination — the semantic sibling
    of ``benchmark_contamination``: n-gram overlap misses paraphrased
    or translated eval leakage, so modern pipelines (e.g. the
    phi/Llama decontamination write-ups) ALSO flag training documents
    whose embedding sits within ``threshold`` cosine of any benchmark
    item.

    Returns one row per corpus document: ``max_cosine`` (similarity to
    the nearest benchmark item, rounded 6), ``nearest_bench_id`` (ties
    break to the smallest benchmark id — deterministic), and
    ``contaminated`` (max_cosine >= threshold). Documents never
    compared (empty benchmark) keep their row with NULL cosine and
    ``contaminated = false`` — annotate, don't drop (the gopher_gate
    convention).

    Scale shape: eval benchmarks are tiny next to a training corpus,
    so the pairing is the broadcast nested-loop cross —
    |corpus| × |bench| cosine evaluations in the codegen stage, then
    ONE map-side-combined ``max_by`` per corpus id (shuffle = |corpus|
    narrow rows). Self-pairs (same id in both frames) are excluded so a
    benchmark drawn from the corpus does not flag itself.
    """
    from zacks_estimates_financial_statements_spark.functions import vectors as V
    bench = benchmark.select(
        F.col(id_col).alias("__bid"), F.col(vec_col).alias("__bvec"),
        V.norm_fast(f"`{vec_col}`").alias("__bn"))
    withn = corpus.select(F.col(id_col), F.col(vec_col),
                          V.norm_fast(f"`{vec_col}`").alias("__n"))
    pairs = withn.crossJoin(F.broadcast(bench))
    scored = (pairs.filter(F.col(id_col) != F.col("__bid"))
              .select(F.col(id_col), F.col("__bid"),
                      F.round(V.cosine_prenorm(f"`{vec_col}`", "__bvec",
                                               "__n", "__bn"),
                              6).alias("__cos"))
              .filter(F.col("__cos").isNotNull()))
    best = (scored.groupBy(id_col)
            .agg(F.max("__cos").alias("max_cosine"),
                 # min_by over (-cos, id): highest cosine, then
                 # smallest bench id — negate the (numeric) score, not
                 # the id, so string benchmark ids survive ANSI.
                 # ansi-ok: __cos is an internal double (cosine); negation is numeric
                 F.min_by("__bid", F.struct((-F.col("__cos")).alias("nc"),
                                            F.col("__bid")))
                 .alias("nearest_bench_id")))
    return (corpus.select(id_col).join(best, id_col, "left")
            .select(id_col, "max_cosine", "nearest_bench_id",
                    F.coalesce(F.col("max_cosine") >= threshold,
                               F.lit(False)).alias("contaminated")))


#: PII patterns restricted to constructs with identical semantics in
#: Java regex (Spark) and RE2 (DuckDB): character classes, bounded
#: repetition and word boundaries only — no alternation or backtracking
#: constructs, so leftmost-match counts agree across engines.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_scan(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII detection and redaction: one ``<kind>_count``
    column per ``PII_PATTERNS`` entry plus ``redacted`` text with every
    match replaced by its ``[KIND]`` tag (patterns applied in mapping
    order).

    A pure projection — regexp_count/regexp_replace run inside
    whole-stage codegen, zero shuffles at any corpus size. The
    patterns stay within the Java-regex ∩ RE2 common subset so a SQL
    twin on another engine counts the same matches.
    """
    out = df.select(
        F.col(id_col),
        *[F.regexp_count(F.col(text_col), F.lit(p)).cast("bigint")
          .alias(f"{kind}_count") for kind, p in PII_PATTERNS.items()],
        F.col(text_col).alias("redacted"))
    for kind, p in PII_PATTERNS.items():
        out = out.withColumn(
            "redacted",
            F.regexp_replace("redacted", p, f"[{kind.upper()}]"))
    return out


def chunk_tokens(df: DataFrame, id_col: str, text_col: str,
                 chunk_size: int = 512,
                 stride: int | None = None) -> DataFrame:
    """Split each document's token stream into training-context chunks:
    one row per ``chunk_size``-token window (last chunk ragged), with
    ``n_tokens`` and an md5 ``chunk_hash`` of the space-joined chunk.

    The sequence-prep step of an LLM data pipeline (fixed context
    windows from variable-length documents). Pure projection + explode:
    chunk boundaries depend only on the row itself, so there is no
    shuffle at any corpus size and Catalyst keeps the whole plan in one
    codegen stage. Zero-token documents yield no rows.

    ``stride`` < ``chunk_size`` gives OVERLAPPING windows (RAG passage
    extraction: a fact straddling a boundary appears whole in the next
    window); the default (``None`` → ``chunk_size``) is the exact
    non-overlapping training layout. Window ``i`` starts at token
    ``i*stride``; every start position < the token count emits.
    """
    if chunk_size < 1:
        raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
    stride = chunk_size if stride is None else stride
    if not 1 <= stride <= chunk_size:
        raise ValueError(
            f"stride must be in [1, chunk_size], got {stride}")
    base = df.select(F.col(id_col), _word_array(text_col).alias("__w"))
    n_chunks = (F.floor((F.size("__w") - 1) / F.lit(stride)) + 1) \
        .cast("int")
    idx = F.when(F.size("__w") >= 1,
                 F.sequence(F.lit(0), n_chunks - 1)) \
        .otherwise(F.array().cast("array<int>"))
    chunked = (base.select(id_col, "__w",
                           F.explode(idx).alias("__i"))
               .withColumn("__chunk",
                           F.slice("__w", F.col("__i") * stride + 1,
                                   chunk_size)))
    return chunked.select(
        id_col,
        F.col("__i").cast("bigint").alias("chunk_idx"),
        F.size("__chunk").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "__chunk")).alias("chunk_hash"))


def quantile_gate(df: DataFrame, strata_col: str, score_col: str,
                  q: float = 0.5) -> DataFrame:
    """Per-stratum quantile thresholding: keep rows whose ``score_col``
    is at or above their stratum's ``q``-quantile (e.g. "top half per
    domain" quality filtering). Adds a ``threshold`` column.

    The quantile is Spark's exact ``percentile`` (linear interpolation,
    ≡ SQL ``quantile_cont``) — its aggregation buffers each group's
    values, which suits bounded strata counts (domains, languages).
    The thresholds frame is one row per stratum and is broadcast into
    the gate filter.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    th = df.groupBy(strata_col).agg(
        F.percentile(score_col, q).alias("threshold"))
    return (df.join(F.broadcast(th), strata_col)
            .filter(F.col(score_col) >= F.col("threshold")))


def token_budget_fill(df: DataFrame, strata_col: str, text_col: str,
                      order_col: str, id_col: str,
                      budget: int) -> DataFrame:
    """Budget-constrained subset selection: walk each stratum's rows in
    priority order (``order_col`` descending, id ascending as the
    deterministic tie-break) and keep rows until the stratum's token
    ``budget`` is exhausted — a row is kept iff it fits entirely
    (cumulative tokens through it ≤ budget). Adds ``n_tokens`` and the
    running ``cum_tokens``.

    The "fill 50 B tokens from the best documents" selection step.
    Plan: per-row token count in projection, one window (shuffle-sort
    within each stratum) for the running sum, then a filter — the sort
    is the operator's semantics (a priority fill is an ordered scan),
    and strata partition it.

    NULL contract: NULL-id rows are excluded — the deterministic
    tie-break needs an id, Spark and SQL engines disagree on where
    NULLs sort ascending, and an unaddressable row silently consuming
    budget would shift every later row's cum_tokens (contract fuzz).

    Duplicate-id contract (r9 contract fuzz, tightened r10): a fill
    decision is per distinct VERSION ``(id, priority, n_tokens)`` —
    verbatim physical copies must not consume budget twice, so rows
    identical in all three collapse via a ``lag(struct)`` guard over
    the same window spec (they are guaranteed adjacent: the window
    ORDERS by exactly those keys), inside the exchange the cumulative
    sum already pays; no extra shuffle. Copies with different
    priorities or token counts (divergent content), or the same id in
    different strata, are distinct fill decisions and each charge —
    the r9 ``lag(id)``-only guard collapsed same-priority DIVERGENT
    copies by a nondeterministic window tie (r9 ADVICE). ``n_tokens``
    joins the window order as the final tie-break so two divergent
    copies fill in a deterministic, twin-mirrorable order. True
    logical dedup is ``exact_dup_groups``' job upstream.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    from pyspark.sql import Window
    df = df.filter(F.col(id_col).isNotNull())
    df = df.withColumn("n_tokens",
                       F.size(_word_array(text_col)).cast("bigint"))
    w_ord = (Window.partitionBy(strata_col)
             .orderBy(F.col(order_col).desc(), F.col(id_col).asc(),
                      F.col("n_tokens").asc()))
    w = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ver = F.struct(F.col(order_col), F.col(id_col), F.col("n_tokens"))
    df = (df.withColumn("__prev", F.lag(ver).over(w_ord))
          .filter(F.col("__prev").isNull() | (F.col("__prev") != ver))
          .drop("__prev"))
    return (df
            .withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .filter(F.col("cum_tokens") <= budget))


def mixture_plan(df: DataFrame, strata_col: str, text_col: str,
                 targets: Mapping[str, float]) -> DataFrame:
    """Data-mixing plan: per stratum (source/domain/language), the token
    accounting and the resampling knobs needed to hit a target mixture.

    Returns one row per stratum present in the corpus:

    - ``n_docs`` / ``n_tokens``        — what the stratum holds,
    - ``current_share``                — its token share of the corpus,
    - ``target_share``                 — normalized from ``targets``
      (strata not named get 0),
    - ``repeat_factor``                — target/current token ratio: the
      per-epoch repetition a weighted loader would apply (>1 means the
      stratum is under-represented),
    - ``sample_rate``                  — repeat_factor scaled so its
      maximum is 1: the largest no-repetition downsampling plan that
      achieves the target mixture (feed it to ``stratified_sample``).

    One aggregation over the corpus; everything after operates on
    |strata| rows (the single-partition windows are over that tiny
    frame, not the corpus). Double math is rounded to 6 digits at the
    output edge only, from identical expression shapes both engines.
    """
    if not targets:
        raise ValueError("targets must name at least one stratum")
    total_t = float(sum(targets.values()))
    if total_t <= 0:
        raise ValueError("targets must sum to a positive value")
    from pyspark.sql import Window
    tgt = None
    for name, t in targets.items():
        share = F.lit(t / total_t)
        cond = F.col(strata_col) == F.lit(name)
        tgt = F.when(cond, share) if tgt is None else tgt.when(cond, share)
    tgt = tgt.otherwise(F.lit(0.0))
    nt = F.size(_word_array(text_col))
    per = (df.groupBy(strata_col)
           .agg(F.count("*").alias("n_docs"),
                F.sum(nt.cast("bigint")).alias("n_tokens")))
    # constant partition key: same single-partition execution as an
    # unpartitioned window over this |strata|-row frame, without the
    # WindowExec "no partition defined" log noise
    everything = Window.partitionBy(F.lit(0))
    # zero-token contract (r11 high-rate fuzz interaction: a fuzzed
    # `source` mints singleton strata whose only doc can be token-free):
    # a stratum with no tokens has NO defined repeat factor or sample
    # rate (NULL, not a division crash under ANSI); likewise a corpus
    # with zero total tokens has no shares. The SQL twin states the
    # same CASE guards.
    raw = (per
           .withColumn("__total", F.sum("n_tokens").over(everything))
           .withColumn("__tgt", tgt)
           .withColumn("__rf",
                       F.when(F.col("n_tokens") > 0,
                              F.col("__tgt") * F.col("__total")
                              / F.col("n_tokens")))
           .withColumn("__rfmax", F.max("__rf").over(everything)))
    return raw.select(
        strata_col, "n_docs", "n_tokens",
        F.round(F.when(F.col("__total") > 0,
                       F.col("n_tokens") / F.col("__total")), 6)
        .alias("current_share"),
        F.round("__tgt", 6).alias("target_share"),
        F.round("__rf", 6).alias("repeat_factor"),
        F.round(F.when(F.col("__rfmax") > 0,
                       F.col("__rf") / F.col("__rfmax")), 6)
        .alias("sample_rate"))


def pack_sequences(df: DataFrame, id_col: str, text_col: str,
                   budget: int = 2048, n_streams: int = 64) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end into
    token streams and record where each document lands, so a training
    job can cut ``budget``-token windows with documents crossing window
    boundaries (the standard GPT-style packing, as opposed to
    ``chunk_tokens``'s per-document windows).

    Documents are dealt into ``n_streams`` independent streams by keyed
    hash and ordered deterministically within each stream (hash bucket,
    then id), so the layout is reproducible across runs, engines and
    partitioning. Output per document: ``stream``, ``n_tokens``,
    ``start_offset`` (tokens before it in its stream), ``pack_id``
    (which budget-window its first token falls in) and ``pack_offset``
    (position within that window).

    Scale shape: a single global running sum would serialize the corpus
    through one partition — the streams exist precisely to shard that
    window; with ``n_streams`` ≳ cluster cores the cumsum is as
    parallel as any shuffle, at the cost of ``n_streams`` independently
    packed token streams (which training wants anyway for data-parallel
    readers). One shuffle (the window partition); token counts are a
    per-row projection.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_streams < 1:
        raise ValueError(f"n_streams must be >= 1, got {n_streams}")
    from pyspark.sql import Window
    base = df.select(
        F.col(id_col),
        F.size(_word_array(text_col)).cast("bigint").alias("n_tokens"),
        _bucket(id_col, "pack"))
    w = (Window.partitionBy(F.col("bucket") % n_streams)
         .orderBy("bucket", id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (base
            .withColumn("stream",
                        (F.col("bucket") % n_streams).cast("bigint"))
            .withColumn("start_offset",
                        F.sum("n_tokens").over(w) - F.col("n_tokens"))
            .select(id_col, "stream", "n_tokens", "start_offset",
                    F.floor(F.col("start_offset") / budget)
                    .alias("pack_id"),
                    (F.col("start_offset") % budget).alias("pack_offset")))


def repetition_stats(df: DataFrame, id_col: str, text_col: str,
                     ns: Iterable[int] = (1, 2, 3)) -> DataFrame:
    """Gopher-style repetition signals per (document, n):

    - ``total_ngrams`` / ``distinct_ngrams`` — token n-gram counts,
    - ``top_count`` — occurrences of the modal n-gram,
    - ``dup_frac``  — fraction of n-grams that repeat an earlier one
      (``1 - distinct/total``),
    - ``top_frac``  — fraction claimed by the most frequent n-gram.

    High ``dup_frac``/``top_frac`` flags boilerplate and degenerate
    repetition for corpus filtering (Gopher §A1.1 uses exactly these
    duplicate/top n-gram fractions as quality gates).

    Tokenization matches ``functions.text.word_tokens`` (lowercase,
    split on ``[^a-z0-9_]+``) with empties dropped, so the DuckDB twin
    is the shared ``string_split_regex`` + ``list_filter`` pattern.
    Documents with fewer than ``n`` tokens yield no ``(doc, n)`` row.

    Plan shape: every count here is PER-DOCUMENT, so the corpus is
    hash-partitioned by ``id_col`` FIRST — one exchange of compact
    ``(id, text)`` rows — and everything downstream stays
    partition-local: ``HashPartitioning(id)`` satisfies the clustered
    distribution of both ``(doc, n, gram)`` and ``(doc, n)``
    aggregations, so Catalyst plans NO further exchange (verified: the
    executed plan carries exactly one ``REPARTITION_BY_COL``). The
    previous shape shuffled the exploded gram rows themselves —
    ~|ns|× corpus tokens with gram text aboard, measured 149 rows
    shuffled per row scanned at sf0.1 vs ~1 now — the difference is
    the 100 TB network bill. The token array is materialized ONCE per
    row after the exchange (lambda-CSE trap — Catalyst will not share
    a ``split`` nested inside each lambda), every requested n-gram
    length is generated from it in the same projection, and one
    ``explode`` feeds the two-level partition-local aggregation. The
    modal count comes from the grouped counts — never from a per-row
    pairwise scan, which would be quadratic in document length for
    long documents. Concentration bound: one task owns a document's
    whole gram multiset — the same bound the final (doc, n) exchange
    already imposed, and a giant-document straggler is AQE-invisible
    either way.

    """
    ns = sorted(set(int(n) for n in ns))
    if not ns or ns[0] < 1:
        raise ValueError(f"n-gram lengths must be >= 1, got {ns}")
    words = F.filter(F.split(simple_lower(F.col(text_col)), r"[^a-z0-9_]+"),
                     lambda x: x != "")
    # partition by doc BEFORE tokenizing: the exchange carries raw
    # (id, text) rows once, and both aggregations below ride it
    base = (df.select(F.col(id_col), F.col(text_col))
            .repartition(F.col(id_col))
            .select(F.col(id_col), words.alias("__w")))

    def tagged(n: int):
        # sequence(1, 0) counts DOWN — guard short docs before
        # generating gram positions
        gram = F.transform(
            F.sequence(F.lit(1), F.size("__w") - (n - 1)),
            lambda i: F.struct(F.lit(n).alias("n"),
                               F.concat_ws(" ", F.slice("__w", i, n))
                               .alias("gram")))
        return F.when(F.size("__w") >= n, gram).otherwise(
            F.array().cast("array<struct<n:int,gram:string>>"))

    all_grams = F.concat(*[tagged(n) for n in ns]) if len(ns) > 1 \
        else tagged(ns[0])
    exploded = (base.select(F.col(id_col),
                            F.explode(all_grams).alias("__g"))
                .select(id_col, F.col("__g.n").alias("n"),
                        F.col("__g.gram").alias("gram")))
    # two-level aggregation: per-gram counts first, then per-(doc, n)
    per_gram = (exploded.groupBy(id_col, "n", "gram")
                .agg(F.count("*").alias("__c")))
    return (per_gram.groupBy(id_col, "n")
            .agg(F.sum("__c").alias("total_ngrams"),
                 F.count("*").alias("distinct_ngrams"),
                 F.max("__c").alias("top_count"))
            .withColumn(
                "dup_frac",
                F.round(
                    (F.col("total_ngrams") - F.col("distinct_ngrams"))
                    / F.col("total_ngrams"), 6))
            .withColumn(
                "top_frac",
                F.round(F.col("top_count") / F.col("total_ngrams"), 6)))


def repeated_spans(df: DataFrame, id_col: str, text_col: str,
                   k: int = 10, min_docs: int = 2) -> DataFrame:
    """Exact cross-document repeated-span detection — the sliding-window
    approximation of suffix-array substring dedup used to strip
    boilerplate from training corpora (Lee et al., *Deduplicating
    Training Data Makes Language Models Better*, ACL'22): every k-token
    window whose text occurs in >= ``min_docs`` distinct documents is a
    repeated span, and overlapping/adjacent hits per document are
    merged into maximal intervals.

    Returns ``(id, span_start, span_end, n_tokens, n_spans)`` with
    1-based inclusive token positions: the merged interval, its length,
    and how many k-windows it collapsed.

    Plan shape (all span-sized, linear in corpus tokens):

    - span strings are built inside ONE projection (token array
      materialized first — the lambda-CSE rule — then ``transform`` +
      ``posexplode``), so no O(n²) carry of the token array per
      exploded row and no extra shuffle;
    - cross-document frequency uses the dense_rank window trick
      (``dense_rank`` over (span, doc) then ``max`` over the span
      partition — count_distinct is not a window function), so the
      span lineage is computed ONCE and filtered in the same shuffle —
      no aggregate-and-join-back, which would tokenize the corpus
      twice and shuffle the spans a third time (measured 3.1 → 1.9 s
      at sf0.1). A globally repeated span sorts all its occurrences
      into one partition — the same bound as the groupBy form;
    - interval merge is the classic gaps-and-islands pair of windows
      over (doc, start) — state O(1) per row.

    Spans join on their exact text, not a 64-bit hash: correctness
    first (a hash collision would silently delete unique content). At
    extreme scale substitute a 128-bit hash column for ``__g`` and the
    collision probability is negligible; the plan is unchanged.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # NULL-id contract (r10 high-rate fuzz): unaddressable rows are
    # excluded from the span relation — a span cannot be attributed to
    # them, and they must not count toward min_docs (Spark's
    # dense_rank counts a NULL id as one distinct value where SQL's
    # count(DISTINCT) ignores NULLs — the engines disagree on whether
    # a NULL-doc occurrence pushes a span over the threshold).
    toks = (df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col), _word_array(text_col).alias("__t"))
            .filter(F.size("__t") >= k))
    # sequence() counts DOWN when end < start — the >= k filter above
    # guarantees at least one position
    spans = (toks.select(
        F.col(id_col),
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("__t") - (k - 1)),
            lambda i: F.array_join(F.slice("__t", i, k), " ")))
        .alias("__p", "__g"))
        .select(F.col(id_col), (F.col("__p") + 1).alias("span_start"),
                F.col("__g")))
    from pyspark.sql import Window
    wg = Window.partitionBy("__g")
    # duplicate-copy contract (r10 high-rate fuzz): hits are DISTINCT
    # (id, position) — physical copies of one doc put the same hit at
    # the same position twice, and window-tie mechanics then split the
    # island count differently across engines; a span interval is a
    # POSITION-set property of the logical doc. The distinct runs on
    # the already-filtered hit relation (repeated spans only), inside
    # the per-doc exchange the island windows pay anyway.
    hit = (spans.withColumn("__dr",
                            F.dense_rank().over(wg.orderBy(id_col)))
           .withColumn("__df", F.max("__dr").over(wg))
           .filter(F.col("__df") >= min_docs)
           .select(F.col(id_col), "span_start",
                   (F.col("span_start") + (k - 1)).alias("span_end"))
           .distinct())
    w = Window.partitionBy(id_col).orderBy("span_start")
    prev_end = F.max("span_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (hit.withColumn(
        "__brk", F.when(prev_end.isNull()
                        | (F.col("span_start") > prev_end), 1)
        .otherwise(0))
        .withColumn("__island", F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0))))
    return (islands.groupBy(F.col(id_col), "__island")
            .agg(F.min("span_start").alias("span_start"),
                 F.max("span_end").alias("span_end"),
                 F.count("*").alias("n_spans"))
            .withColumn("n_tokens",
                        F.col("span_end") - F.col("span_start") + 1)
            .select(id_col, "span_start", "span_end", "n_tokens",
                    "n_spans"))


#: salt buckets of ``domain_quota``'s skew-safe two-phase top-N
QUOTA_SALT_BUCKETS = 16


def domain_quota(df: DataFrame, host_col: str, id_col: str,
                 max_per_host: int,
                 priority_col: str | None = None,
                 exact_ranks: bool = True) -> DataFrame:
    """Per-site quota capping — the anti-domination guard of a crawl
    corpus (a handful of hosts otherwise contribute most of the rows).
    Keeps at most ``max_per_host`` rows per host: highest
    ``priority_col`` first (quality score, recency, ...), ties and the
    default broken by ascending id for determinism. Adds ``host_rank``
    (1-based) and ``keep``.

    ``exact_ranks=True`` (default): one window shuffle on the host,
    every row gets its exact rank — a mega-host concentrates its rows
    in one partition, the inherent bound of any exact per-key total
    order (AQE splits skewed joins, not windows).

    ``exact_ranks=False`` is the SKEW-SAFE path for crawl-scale data:
    two-phase top-N. Rows salt into B = ``QUOTA_SALT_BUCKETS`` by id
    hash; a per-(host, salt) window keeps each bucket's local top-N
    (≤ 1/B of the mega-host per task), and a second window over the ≤ B·N
    candidates per host assigns final ranks. Candidate rank provably
    equals true rank for the global top-N (every row preceding a true
    top-N row is itself top-N, hence a candidate), so kept rows carry
    EXACT ranks; dropped rows get ``host_rank`` NULL (their exact tail
    rank is the quantity whose computation is the skew) and
    ``keep = false`` via one id-equi-join back to the corpus. Measured
    in ``tests/test_skew_sweep.py``: a 50%-hot-domain corpus shows no
    straggler task >4× the stage median on this path.

    Duplicate-id contract (r9 contract fuzz, tightened r10): a quota
    slot is per distinct VERSION ``(host, priority, id)`` — verbatim
    physical copies SHARE one rank/slot (rank = running count of
    first-VERSIONS inside the same window: a ``lag(struct)`` guard
    over exactly the keys the window orders by, so equal versions are
    guaranteed adjacent; same shuffle as row_number), while copies
    with different priorities (divergent content) are distinct
    candidates and rank separately. The skew path's attach back to
    the corpus is keyed by the full version — the r9 id-only attach
    cross-multiplied every rank of an id onto every physical copy
    when a conflicting clone landed the same id on two hosts
    (r9 ADVICE). Null-safe equality keeps NULL-priority rows attached
    to their own version's rank.
    """
    if max_per_host < 1:
        raise ValueError(f"max_per_host must be >= 1, got {max_per_host}")
    from pyspark.sql import Window

    order = ([F.desc(priority_col)] if priority_col else []) + \
        [F.asc(id_col)]
    ver_cols = ([priority_col] if priority_col else []) + [id_col]

    def lrank(w_spec) -> F.Column:
        ver = F.struct(*[F.col(c) for c in ver_cols])
        prev = F.lag(ver).over(w_spec)
        first = (prev.isNull() | (prev != ver)).cast("int")
        return F.sum(first).over(
            w_spec.rowsBetween(Window.unboundedPreceding,
                               Window.currentRow)).cast("int")

    if exact_ranks:
        w = Window.partitionBy(host_col).orderBy(*order)
        return (df.withColumn("host_rank", lrank(w))
                .withColumn("keep", F.col("host_rank") <= max_per_host))
    w1 = Window.partitionBy(host_col, "__salt").orderBy(*order)
    w2 = Window.partitionBy(host_col).orderBy(*order)
    attach_cols = [host_col, *ver_cols]
    kept = (df
            .withColumn("__salt",
                        F.pmod(F.xxhash64(F.col(id_col)),
                               F.lit(QUOTA_SALT_BUCKETS)))
            .withColumn("__lr", lrank(w1))
            .filter(F.col("__lr") <= max_per_host)
            .withColumn("__r", lrank(w2))
            .filter(F.col("__r") <= max_per_host)
            .select(*[F.col(c).alias(f"__k_{i}")
                      for i, c in enumerate(attach_cols)],
                    F.col("__r").alias("host_rank"))
            # copies of one version carry identical ranks: one attach
            # row per (host, priority, id) version
            .distinct())
    cond = None
    for i, c in enumerate(attach_cols):
        eq = df[c].eqNullSafe(kept[f"__k_{i}"])
        cond = eq if cond is None else (cond & eq)
    return (df.join(kept, cond, "left")
            .drop(*[f"__k_{i}" for i in range(len(attach_cols))])
            .withColumn("keep", F.col("host_rank").isNotNull()))


def corpus_report(df: DataFrame, strata_col: str,
                  text_col: str) -> DataFrame:
    """Per-stratum corpus health report — the observability aggregate a
    curation pipeline publishes after every build: document and
    character/token volume, mean quality score, and the share of
    short (<30-token) documents per stratum.

    One aggregation shuffle over (#strata) groups with map-side
    combine; the per-row signals reuse ``functions.text`` (panels
    tokenized once via let-binding). Quality is summed as
    ``decimal(38,6)`` so the mean is exactly reproducible cross-engine
    (double re-association would drift in the last ulp).
    """
    from zacks_estimates_financial_statements_spark.functions import text as T

    t = F.col(text_col)
    base = df.select(
        F.col(strata_col), F.length(t).alias("__chars"),
        T.whitespace_token_count(t).alias("__toks"),
        F.round(T.quality_score(t), 6).cast("decimal(38,6)").alias("__q"))
    n = F.count("*")
    return base.groupBy(strata_col).agg(
        n.alias("n_docs"),
        F.sum("__chars").alias("total_chars"),
        F.sum("__toks").alias("total_ws_tokens"),
        F.round(F.sum("__q").cast("double") / n, 6).alias("avg_quality"),
        F.round(F.sum(F.when(F.col("__toks") < 30, 1).otherwise(0))
                .cast("double") / n, 6).alias("pct_short"))


#: add-alpha smoothing of the self-trained bigram LM
LM_ALPHA = 0.5


def bigram_lm_perplexity(df: DataFrame, id_col: str,
                         text_col: str) -> DataFrame:
    """Per-document perplexity under a bigram LM trained on the corpus
    itself — the self-scoring quality signal (KenLM-style, simplified
    to add-alpha smoothing) that flags machine-generated repetition
    (suspiciously low ppl) and encoding garbage (suspiciously high).

    ``P(w2|w1) = (C(w1 w2) + alpha) / (C(w1 ·) + alpha * V)`` with
    ``alpha`` = ``LM_ALPHA`` and ``V`` = distinct tokens of the
    bigram-eligible corpus;
    ``ppl = exp(mean -ln P)`` over a document's bigrams. Documents with
    fewer than two tokens drop out (no bigrams to score).

    Determinism: per-bigram negative log-likelihoods round to 6 digits
    and sum as ``decimal(38,6)`` (re-association-proof), the mean is a
    double division of that exact sum, and the final ppl rounds to 6 —
    the cross-engine hashing recipe used throughout.

    Plan shape, all linear in corpus tokens: ONE bigram explode
    (``arrays_zip`` of two array slices — no self-join of the token
    relation). ``C(w1 w2)`` is a ``groupBy(w1, w2).count()`` joined
    back to the occurrence relation — NOT a ``partition by (w1, w2)``
    window: the count side map-side-combines to bigram TYPES before
    its shuffle, and the join-back's probe-side shuffle is
    AQE-skew-SPLITTABLE, where a window partition holding a
    planet-scale top bigram ("of the" ≈ 1% of all occurrences) is one
    unsplittable task — a 100× straggler at 10k tasks that local[32]
    never shows (round-8 fix; the skew sweep now pins it). ``C(w1 ·)``
    deliberately does NOT use a ``partition by w1`` window either: on
    a web corpus the hottest head token ("the") would put a
    double-digit share of ALL bigram rows in one window partition
    (same argument, one decade worse). Instead one ``posexplode``
    branch builds the
    (token, head_count) model via ``groupBy(token)`` — map-side
    combine collapses each task to its distinct tokens before the
    shuffle, so the hottest key moves at most #partitions rows — and
    V falls out of the same relation as ``count(__c1)`` (counting the
    aggregated column, not ``*``, keeps both model consumers' pruned
    subtrees identical so the hash(token) exchange is reused rather
    than re-tokenizing the corpus a third time). The model attaches by
    a plain join that AQE turns into a broadcast hash join while the
    vocabulary fits (verified in the executed sf0.1 plan) and into a
    skew-splittable sort-merge join beyond that. One final
    per-document aggregation.

    Honest cost note: at sf0.1 the testdata's 31-token vocabulary
    makes every relation overhead-dominated, and the extra model
    stages cost ~0.9 s wall vs the hot-window form (1.3 → 2.2 s
    measured, n=3 warm medians) — fixed scheduling latency, not data
    volume (the two-scale exponent stays flat). The trade buys the
    removal of an unsplittable single-partition window AND of a second
    full occurrence shuffle, both of which dominate at real corpus
    scale where the hottest head token carries ~3-5% of all bigrams.
    """

    # The token relation feeds THREE stage subtrees (the pair-model
    # aggregation, the head-model/vocab aggregation, and the probe),
    # each of which would otherwise replay the regex tokenize — the
    # most expensive projection in the lineage. Persist it once (r14,
    # the kn_perplexity single-scan pattern); the downstream bigram /
    # posexplode derivations replay from the cache. Released when the
    # caller's ``cache_scope`` exits.
    toks = persist(df.select(F.col(id_col),
                             _word_array(text_col).alias("__t"))
                   .filter(F.size("__t") >= 2))
    n1 = F.size("__t") - 1
    # explode_OUTER everywhere below: the >= 2 filter already
    # guarantees non-empty arrays, and plain explode triggers
    # InferFiltersFromGenerate, which re-inlines the whole tokenize
    # into a pushed-down size()>0 filter — one wasted split pass per
    # row per branch (the benchmark_contamination lesson)
    bi = (toks.select(
        F.col(id_col),
        F.explode_outer(F.arrays_zip(
            F.slice("__t", 1, n1).alias("w1"),
            F.slice("__t", 2, n1).alias("w2"))).alias("__b"))
        .select(F.col(id_col), F.col("__b.w1").alias("w1"),
                F.col("__b.w2").alias("w2")))
    # (token, head_count) model: __p is 0-based, so a token heads a
    # bigram iff __p < size-1; tokens that never head keep __c1 = 0
    # and simply find no partner in the inner join below
    tokrel = toks.select((F.size("__t") - 1).alias("__h"),
                         F.posexplode_outer("__t").alias("__p", "__tok"))
    head_model = (tokrel.groupBy("__tok")
                  .agg(F.sum(F.when(F.col("__p") < F.col("__h"), 1)
                             .otherwise(0)).alias("__c1")))
    vocab = (head_model.agg(F.count("__c1").cast("double").alias("__v"))
             .withColumn("__k", F.lit(1)))
    pair_model = bi.groupBy("w1", "w2").agg(F.count("*").alias("__c12"))
    annot = bi.join(pair_model, ["w1", "w2"])
    nll = F.round(
        -F.log((F.col("__c12") + F.lit(LM_ALPHA))
               / (F.col("__c1") + F.lit(LM_ALPHA) * F.col("__v"))),
        6).cast("decimal(38,6)")
    scored = (annot.join(head_model.withColumnRenamed("__tok", "w1"), "w1")
              .withColumn("__k", F.lit(1))
              .join(F.broadcast(vocab), "__k")
              .select(F.col(id_col), nll.alias("__nll")))
    out = (scored.groupBy(id_col)
           .agg(F.count("*").alias("n_bigrams"),
                F.round(F.exp(F.sum("__nll").cast("double")
                              / F.count("*")), 6).alias("ppl")))
    return out


#: Kneser–Ney absolute discount (Chen & Goodman's usual d)
KN_DISCOUNT = 0.75


def kn_perplexity(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document perplexity under an interpolated Kneser–Ney bigram
    LM trained on the corpus itself — the smoothing KenLM actually
    ships (Kneser & Ney, ICASSP 1995; Chen & Goodman, CSL 1999 for
    the interpolated form), upgrading ``bigram_lm_perplexity``'s
    add-α tier: absolute discounting plus a CONTINUATION unigram
    backoff, so frequent-but-context-bound tokens ("Francisco")
    stop inflating unseen-context probabilities.

        P(w2|w1) = max(C(w1 w2) − d, 0) / C(w1 ·)
                 + d · N1+(w1 ·) / C(w1 ·) · N1+(· w2) / N1+(· ·)

    with ``d = KN_DISCOUNT``, ``N1+(w1 ·)`` = distinct continuations of
    w1, ``N1+(· w2)`` = distinct left-contexts of w2, ``N1+(· ·)`` =
    distinct bigram types. ``ppl = exp(mean −ln P)`` over a document's
    bigrams; documents with < 2 tokens drop out.

    Determinism: the P expression evaluates in double with the EXACT
    association written above (both engines), per-bigram NLLs round to
    6 and sum as ``decimal(38,6)``, ppl rounds to 6 — the repo recipe.

    Plan shape — same skew discipline as ``bigram_lm_perplexity``
    (its docstring carries the full argument): C(w1 w2) is a
    ``groupBy(w1, w2).count()`` (AQE-skew-splittable; a (w1, w2)
    window would make the top bigram one unsplittable task — round-8
    fix), and EVERY other KN count model derives from that TYPE
    relation by exact identities (r13): C(w1 ·) = Σ_w2 C(w1 w2),
    N1+(w1 ·)/N1+(· w2) are per-side type counts, N1+(· ·) = |types|.
    The corpus lineage is scanned exactly twice — once into the type
    aggregation, once as the probe the per-type NLL joins back to
    (AQE broadcasts the model side while it fits); everything between
    is model-sized.
    """

    toks = (df.select(F.col(id_col), _word_array(text_col).alias("__t"))
            .filter(F.size("__t") >= 2))
    n1 = F.size("__t") - 1
    # ONE corpus scan (r14, VERDICT r13 item 4): the occurrence-bigram
    # relation is consumed twice SEQUENTIALLY — the model build (the
    # maybe_broadcast localCheckpoint below is a driver-synchronous
    # job) and then the probe — so without a persist the regex-heavy
    # tokenize → bigram lineage replays per consumer. Persist it once;
    # the model side projects (w1, w2) from the cache, the probe reads
    # (id, w1, w2). Released when the caller's ``cache_scope`` exits.
    bi = persist(toks.select(
        F.col(id_col),
        F.explode_outer(F.arrays_zip(
            F.slice("__t", 1, n1).alias("w1"),
            F.slice("__t", 2, n1).alias("w2"))).alias("__b"))
        .select(F.col(id_col), F.col("__b.w1").alias("w1"),
                F.col("__b.w2").alias("w2")))
    # ONE corpus aggregation feeds every model (r13, third-decade
    # exponent fix): the bigram-TYPE relation C(w1 w2) determines all
    # four KN count models exactly — C(w1 ·) = Σ_w2 C(w1 w2) (a token
    # heads a bigram iff it is non-final), N1+(w1 ·) = |{w2}| per w1,
    # N1+(· w2) = |{w1}| per w2, N1+(· ·) = |types| — so the previous
    # shape's three extra corpus-lineage passes (a posexplode head
    # count, a distinct-bigram pass, per-occurrence model joins) all
    # collapse into TYPE-scale aggregations over pair_model. The
    # corpus is scanned exactly twice (once into pair_model, once as
    # the probe), and the per-TYPE NLL — including the log/round/
    # decimal conversion — attaches to occurrences by a single join
    # AQE broadcasts while the type relation fits (measured 4 corpus
    # passes ≈ 30 s → 2 ≈ 15 s at synth-sf1; values bit-identical).
    pair_model = bi.groupBy("w1", "w2").agg(F.count("*").alias("__c12"))
    h1 = (pair_model.groupBy("w1")
          .agg(F.sum("__c12").alias("__c1"),
               F.count("*").alias("__n1r")))
    r2 = pair_model.groupBy("w2").agg(F.count("*").alias("__n1l"))
    nb = (pair_model.agg(F.count("*").cast("double").alias("__nb"))
          .withColumn("__k", F.lit(1)))
    d = F.lit(KN_DISCOUNT)
    p = (F.greatest(F.col("__c12") - d, F.lit(0.0)) / F.col("__c1")
         + d * F.col("__n1r") / F.col("__c1")
         * (F.col("__n1l") / F.col("__nb")))
    nll = F.round(-F.log(p), 6).cast("decimal(38,6)")
    type_nll = (pair_model
                .join(h1, "w1")
                .join(r2, "w2")
                .withColumn("__k", F.lit(1))
                .join(F.broadcast(nb), "__k")
                .select("w1", "w2", nll.alias("__nll")))
    # size-gated broadcast (util.maybe_broadcast): the probe join must
    # never shuffle the occurrence relation to attach a model-sized
    # table. Measured at synth-sf1: the plain join sort-merge-joins
    # (shuffles AND SORTS every occurrence row, 48 s vs 26 s) and a
    # shuffle_hash hint still shuffles the probe side (SHUFFLE.md flag:
    # 0.29 → 11.38 rows/row — the 100 TB network bill); the broadcast
    # keeps occurrences in their scan partitions. Beyond the session
    # threshold (a genuinely corpus-scale type model) it degrades to
    # the un-hinted AQE-planned join. The localCheckpoint inside
    # doubles as the model materialization.
    from zacks_estimates_financial_statements_spark.util import maybe_broadcast
    scored = (bi.join(maybe_broadcast(type_nll, est_bytes_per_row=48),
                      ["w1", "w2"])
              .select(F.col(id_col), F.col("__nll")))
    out = (scored.groupBy(id_col)
           .agg(F.count("*").alias("n_bigrams"),
                F.round(F.exp(F.sum("__nll").cast("double")
                              / F.count("*")), 6).alias("ppl")))
    return out


def classifier_quality_score(df: DataFrame, id_col: str, text_col: str,
                             weights: DataFrame,
                             dim: int = 1 << 20) -> DataFrame:
    """Model-based quality scoring — the CCNet/fastText linear-classifier
    tier of the quality ladder (heuristics → LM perplexity → trained
    classifier): score each document with a hashed bag-of-words linear
    model, ``sigmoid(mean(w[h(token) % dim]))`` (fastText's mean
    pooling over hashing-trick unigram features).

    ``weights`` is the trained model as a relation ``(bucket bigint,
    weight double)`` — training happens OFFLINE (fastText/sklearn on
    labeled quality data); this operator is the distributed inference
    pass. Missing buckets score 0 (sparse model). Returns one row per
    document with ≥1 token: ``(id, n_features, score)``.

    Plan shape: one token explode in a codegen projection, the model
    attaches by broadcast hash join (a model of a few million hashed
    buckets is tens of MB — the fastText regime; beyond that the join
    degrades to AQE-skew-splittable shuffle, never a window), one
    map-side-combined groupBy(id). Determinism: weights round to 6
    digits and sum as ``decimal(38,6)`` (re-association-proof), the
    sigmoid is applied to a double division of that exact sum, rounded
    to 6 — the cross-engine hashing recipe used throughout.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    toks = df.select(F.col(id_col),
                     F.explode(_word_array(text_col)).alias("__tok"))
    feat = toks.select(F.col(id_col),
                       (hash60(F.col("__tok")) % F.lit(dim)).alias("bucket"))
    # user-supplied weights are unbounded -> exact-aggregation domain
    # guard (r12; util.DEC6_DOMAIN)
    w = weights.select(
        F.col("bucket"),
        dec6(F.round(F.col("weight"), 6)).alias("__w"))
    scored = (feat.join(F.broadcast(w), "bucket", "left")
              .groupBy(id_col)
              .agg(F.sum(F.coalesce(F.col("__w"),
                                    F.lit(0).cast("decimal(38,6)")))
                   .alias("__s"),
                   F.count("*").alias("n_features")))
    x = F.col("__s").cast("double") / F.col("n_features")
    return scored.select(
        F.col(id_col), F.col("n_features"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-x)), 6).alias("score"))


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (in
    nats) — the cheap compression-style quality signal: keyboard-mash,
    repeated-character padding and binary-ish garbage score far below
    natural text (~3 nats for English), so a band filter on entropy is
    a standard first-pass gate (the heuristic tier of the quality
    ladder, alongside ``functions.text.quality_score``).

    One char explode → one map-side-combined (doc, char) count → one
    per-doc fold. The shuffle carries AT MOST |alphabet| rows per
    document (combiners collapse repeats before the exchange), so the
    exchanged volume is corpus-sublinear on natural text. Per-char
    ``p·ln p`` terms round to 12 digits and sum in decimal — exact,
    order-independent addition, the same cross-engine determinism
    contract as ``pagerank``.

    Output: id, n_chars, n_distinct_chars, entropy (nats, round 6).
    The per-doc total is ``length(text)`` carried from the source row —
    no second window shuffle.
    """
    chars = (df.filter(F.length(text_col) > 0)
             .select(F.col(id_col),
                     F.length(text_col).alias("n_chars"),
                     F.explode(F.split(F.col(text_col), "")).alias("ch"))
             .filter(F.col("ch") != ""))
    counts = (chars.groupBy(id_col, "n_chars", "ch")
              .agg(F.count(F.lit(1)).alias("c")))
    p = F.col("c") / F.col("n_chars")
    term = F.round(-p * F.log(p), 12).cast("decimal(38,12)")
    return (counts
            .groupBy(id_col, "n_chars")
            .agg(F.count(F.lit(1)).alias("n_distinct_chars"),
                 F.round(F.sum(term).cast("double"), 6).alias("entropy")))


def leakage_safe_split(df: DataFrame, id_col: str, pairs: DataFrame,
                       weights: Mapping[str, float],
                       src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Split assignment that structurally CANNOT leak near-duplicates
    across train/val/test: the near-dup pair relation collapses to
    connected components (``graph.connected_components``), the
    component label becomes the hash key, and every member inherits its
    component's split. ``hash_split`` keyed on the document id keeps
    eval honest only for exact ids; this keyed-on-cluster form is what
    `split_leakage` audits FOR — two paraphrases of one page can never
    straddle the boundary if the pair generator caught them.

    Cost on top of ``hash_split``: the CC iterations run on the EDGE
    set only (bounded by near-dup pairs, tiny next to the corpus) and
    one left join attaches labels — singletons skip the join output and
    key on their own id. Output: df columns + ``bucket``, ``split``.
    """
    from zacks_estimates_financial_statements_spark.operators import graph

    labels = (graph.connected_components(pairs, src=src, dst=dst)
              .withColumnRenamed("node", id_col))
    keyed = (df.join(labels, id_col, "left")
             .withColumn("__g", F.coalesce(F.col("component"),
                                           F.col(id_col)))
             .drop("component"))
    return hash_split(keyed, "__g", weights).drop("__g")


#: Gopher §A1.1 stopword probe set: a document passing the gate must
#: contain at least ``min_stopwords`` DISTINCT members.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def gopher_gate(df: DataFrame, id_col: str, text_col: str,
                min_stopwords: int = 2) -> DataFrame:
    """The full Gopher quality-rule battery (Rae et al., arXiv:2112.11446
    §A1.1) as one zero-shuffle projection: per-document measurements,
    one boolean per rule, and the conjunction ``keep``.

    Rules (the paper's thresholds):

    - word count in ``[50, 100000]``                   → ``ok_words``
    - mean word length in ``[3, 10]``                  → ``ok_word_len``
    - (# ``#`` + # ``...``) / words <= 0.1             → ``ok_symbols``
    - fraction of lines starting with a bullet (``-``/``*``/``•``)
      <= 0.9                                           → ``ok_bullets``
    - fraction of lines ending with ``...`` <= 0.3     → ``ok_ellipsis``
    - fraction of words containing a letter >= 0.8     → ``ok_alpha``
    - >= ``min_stopwords`` DISTINCT probe stopwords present
                                                       → ``ok_stopwords``

    Rows are never dropped — the gate ANNOTATES (filterable downstream),
    so quality dashboards can count per-rule rejection rates from the
    same pass. NULL text fails every rule with NULL measurements.

    Scale: every rule is a flat per-row expression (regexp_count /
    length-delta occurrence counts, one materialized token array shared
    by all word rules per the lambda-CSE rule) — no shuffle, no UDF, no
    per-line explode; line rules ride multiline-anchored ``regexp_count``
    over the raw string instead of splitting. Fractions round to 6
    digits (cross-engine double contract).
    """
    words = _word_array(text_col)
    base = df.withColumn("__w", words)
    n_words = F.size("__w")
    n_lines = (F.length(text_col)
               - F.length(F.regexp_replace(F.col(text_col), "\n", ""))
               + F.lit(1))
    # occurrence counts as length deltas (flat codegen, no HOF)
    n_hash = (F.length(text_col)
              - F.length(F.regexp_replace(F.col(text_col), "#", "")))
    n_ellipsis = (F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), r"\.\.\.", ""))) / 3
    n_bullet_lines = F.regexp_count(
        F.col(text_col), F.lit(r"(?m)^[ \t]*[-*•]"))
    n_ellipsis_lines = F.regexp_count(
        F.col(text_col), F.lit(r"\.\.\.[ \t]*(\n|$)"))
    n_alpha_words = F.size(F.filter("__w", lambda w: w.rlike("[a-z]")))
    n_stop = F.size(F.array_intersect(
        "__w", F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])))
    measured = base.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.when(n_words > 0,
               F.round(F.length(F.concat_ws("", "__w")) / n_words, 6))
        .alias("mean_word_len"),
        F.when(n_words > 0,
               F.round((n_hash + n_ellipsis) / n_words, 6))
        .alias("symbol_ratio"),
        F.round(n_bullet_lines / n_lines, 6).alias("bullet_line_frac"),
        F.round(n_ellipsis_lines / n_lines, 6)
        .alias("ellipsis_line_frac"),
        F.when(n_words > 0, F.round(n_alpha_words / n_words, 6))
        .alias("alpha_word_frac"),
        n_stop.alias("n_stopwords"))

    def ok(cond):
        return F.coalesce(cond, F.lit(False))

    flags = measured.select(
        "*",
        ok(F.col("n_words").between(50, 100_000)).alias("ok_words"),
        ok(F.col("mean_word_len").between(3.0, 10.0)).alias("ok_word_len"),
        ok(F.col("symbol_ratio") <= 0.1).alias("ok_symbols"),
        ok(F.col("bullet_line_frac") <= 0.9).alias("ok_bullets"),
        ok(F.col("ellipsis_line_frac") <= 0.3).alias("ok_ellipsis"),
        ok(F.col("alpha_word_frac") >= 0.8).alias("ok_alpha"),
        ok(F.col("n_stopwords") >= min_stopwords)
        .alias("ok_stopwords"))
    rule_cols = [c for c in flags.columns if c.startswith("ok_")]
    out = F.col(rule_cols[0])
    for c in rule_cols[1:]:
        out = out & F.col(c)
    return flags.withColumn("keep", out)


def dsir_select(raw: DataFrame, target: DataFrame, id_col: str,
                text_col: str, n: int | None = None,
                buckets: int = 8192) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023, arXiv:2302.03169): pick raw-corpus documents whose
    hashed n-gram profile looks like the ``target`` corpus.

    1. Featurize: unigram + bigram counts hashed into ``buckets``
       cells (keyed 60-bit md5 — cross-engine deterministic, unlike
       ``hashingTF``'s murmur).
    2. Fit add-one bucket unigram models over raw and
       target; per-bucket log ratio ``ln p_tgt(b) − ln p_raw(b)``.
    3. Per raw doc: ``log_weight = Σ_b count_doc(b) · ratio(b)``.
    4. Gumbel-top-k resampling WITHOUT replacement: a deterministic
       Gumbel perturbation from the keyed-md5 uniform is added to the
       log weight and the global top ``n`` keys win — equivalent to
       sampling ∝ weight without replacement (Efraimidis-Spirakis in
       Gumbel form), reproducible across engines, partitionings, runs.

    ``n=None`` skips the resampling cut and returns every raw doc with
    its ``n_grams``, ``log_weight``, ``gumbel``, ``key`` (the QA view:
    weight histograms, domain-level DSIR audits). Documents with no
    features (NULL/empty text) drop out — they carry no evidence.

    Determinism contract: both lns round to 6 digits BEFORE
    differencing, per-bucket contributions round to 6 and sum as
    ``decimal(38,6)``, the final key rounds to 6 with doc-id
    tie-break — the repo-wide cross-engine hashing recipe.

    Scale: the raw corpus hash-partitions by ``id_col`` FIRST — one
    exchange of compact ``(id, text)`` rows — and every per-doc step
    downstream (featurize explode, the (doc, bucket) agg, the scoring
    ``groupBy(id)``) is partition-local: ``HashPartitioning(id)``
    satisfies their clustered distributions, so the hashed-gram rows
    (~2 fixed-width rows per token, ~16× the text bytes — measured 28
    rows shuffled per row scanned before, ~1 after, and ~30% faster at
    sf0.1) never leave their partition. The per-doc feature relation
    is PERSISTED (id-partitioned blocks) so the bucket-model branch
    and the scoring branch share one tokenization pass (Catalyst will
    not reuse a subtree across two differently-keyed aggregations);
    the bucket-model exchange combines map-side to <= ``buckets`` rows
    per partition. The TARGET side stays narrow — its only consumer is
    the corpus-wide ``groupBy(bucket)``, already map-side-combined.
    Bucket models are <= ``buckets`` rows — they broadcast; corpus
    totals attach as 1-row broadcasts. The top-n is a TakeOrdered,
    never a full sort.
    """
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")

    def grams(df):
        # Bigrams via arrays_zip + explode + flat concat_ws (the
        # bigram_lm_perplexity shape) — a zip_with lambda here would
        # run INTERPRETED in the per-corpus-row hot path (the repo's
        # HOF tax). Zipping the full array against its 1-shifted
        # slice pads the last entry with w2 = NULL, so ONE tokenize
        # pass + ONE generator emits both the unigram (w1) and, when
        # w2 is present, the bigram — no union of two branches that
        # Catalyst would re-tokenize separately. greatest(n1, 0)
        # guards the ANSI negative-length slice on empty arrays.
        words = _word_array(text_col)
        t = df.select(F.col(id_col), words.alias("__t"))
        n1 = F.greatest(F.size("__t") - 1, F.lit(0))
        z = t.select(
            F.col(id_col),
            F.explode_outer(F.arrays_zip(
                F.col("__t").alias("w1"),
                F.slice("__t", 2, n1).alias("w2"))).alias("__z"))
        g = z.select(
            F.col(id_col),
            F.explode_outer(F.array(
                F.col("__z.w1"),
                F.when(F.col("__z.w2").isNotNull(),
                       F.concat_ws(" ", "__z.w1", "__z.w2"))))
            .alias("__g"))
        return g.filter(F.col("__g").isNotNull()).select(
            F.col(id_col),
            (hash60(F.concat(F.lit("dsir|"), F.col("__g")))
             % buckets).alias("bucket"))

    raw_part = (raw.select(F.col(id_col), F.col(text_col))
                .repartition(F.col(id_col)))
    # the lazy result reads the persisted ``feats`` until the caller's
    # ``cache_scope`` exits; recomputation after that stays correct
    feats = persist(grams(raw_part).groupBy(id_col, "bucket")
                    .agg(F.count("*").alias("__c")))
    raw_tot = feats.groupBy("bucket").agg(F.sum("__c").alias("__cr"))
    tgt_tot = grams(target).groupBy("bucket").agg(
        F.count("*").alias("__ct"))
    consts = (raw_tot.agg(F.sum("__cr").alias("__tot_raw"))
              .join(tgt_tot.agg(F.sum("__ct").alias("__tot_tgt"))))
    model = (raw_tot.join(tgt_tot, "bucket", "left")
             .join(F.broadcast(consts))
             .select(
                 "bucket",
                 (F.round(F.log(
                     (F.coalesce("__ct", F.lit(0)) + F.lit(1.0))
                     / (F.col("__tot_tgt") + float(buckets))), 6)
                  - F.round(F.log(
                      (F.col("__cr") + F.lit(1.0))
                      / (F.col("__tot_raw") + float(buckets))), 6))
                 .alias("__lr")))
    weighted = (feats.join(F.broadcast(model), "bucket")
                .groupBy(id_col)
                .agg(F.sum("__c").alias("n_grams"),
                     F.sum(F.round(F.col("__c") * F.col("__lr"), 6)
                           .cast("decimal(38,6)")).alias("__lw")))
    u = ((hash60(F.concat(F.lit("gumbel|dsir|"),
                          F.col(id_col).cast("string")))
          % _BUCKETS).cast("double") + F.lit(0.5)) / _BUCKETS
    scored = weighted.select(
        F.col(id_col), "n_grams",
        F.round(F.col("__lw").cast("double"), 6).alias("log_weight"),
        F.round(-F.log(-F.log(u)), 6).alias("gumbel")).withColumn(
            "key", F.round(F.col("log_weight") + F.col("gumbel"), 6))
    out = scored if n is None else \
        scored.orderBy(F.col("key").desc(), F.col(id_col)).limit(n)
    return out


def perplexity_buckets(df: DataFrame, id_col: str, text_col: str,
                       strata_col: str) -> DataFrame:
    """CCNet-style per-stratum perplexity bucketing (Wenzek et al.,
    LREC 2020): score every document with the self-trained bigram LM
    (``bigram_lm_perplexity``), cut each stratum (language) at its
    tertiles, and label documents ``head`` (lowest ppl ≈
    cleanest), ``middle``, ``tail`` — the standard pre-training
    curriculum/filter axis.

    Output: ``(id, stratum, n_bigrams, ppl, head_cut, middle_cut,
    bucket)``. Documents with < 2 tokens have no perplexity and drop
    out (as in ``bigram_lm_perplexity``).

    Determinism: ppl is the 6-digit decimal-routed score; cuts round
    to 6 digits before the boundary compare, so both engines bucket
    identically. The cuts are exact percentiles (≡ SQL
    ``quantile_cont``) — fine for bounded strata counts (languages).

    Scale: the LM scoring is the token-linear plan documented on
    ``bigram_lm_perplexity``; everything after is doc-cardinality —
    one equi-join to attach the stratum, one |strata|-row cuts
    aggregate broadcast back. The joined ppl relation is PERSISTED
    (MEMORY_AND_DISK) before the cuts aggregate: Catalyst does not
    reuse a subtree consumed by two differently-shaped sinks, so
    without it the whole LM-scoring plan — the most expensive stage —
    executes twice (once for the cuts, once for the labeling join).
    The returned labels read the same cache until the caller's
    ``cache_scope`` exits.
    """
    ppl = bigram_lm_perplexity(df, id_col, text_col)
    scored = persist(ppl.join(df.select(F.col(id_col), F.col(strata_col)),
                              id_col))
    th = (scored.groupBy(strata_col)
          .agg(F.round(F.percentile("ppl", 1.0 / 3), 6).alias("head_cut"),
               F.round(F.percentile("ppl", 2.0 / 3), 6)
               .alias("middle_cut")))
    out = (scored.join(F.broadcast(th), strata_col)
           .select(id_col, strata_col, "n_bigrams", "ppl",
                   "head_cut", "middle_cut",
                   F.when(F.col("ppl") <= F.col("head_cut"), F.lit("head"))
                   .when(F.col("ppl") <= F.col("middle_cut"),
                         F.lit("middle"))
                   .otherwise(F.lit("tail")).alias("bucket")))
    return out


def train_quality_classifier(df: DataFrame, id_col: str, text_col: str,
                             label_col: str, dim: int = 1 << 20,
                             n_iter: int = 3, lr: float = 0.5,
                             reliable: bool = False) -> DataFrame:
    """Distributed full-batch logistic-regression training for the
    quality classifier — the TRAINING half of
    ``classifier_quality_score`` (CCNet/fastText tier): hashed
    bag-of-words mean-pooled features, ``n_iter`` gradient-descent
    steps on the logistic loss, one model row per feature bucket.

    The feature map matches scoring exactly — ``x_db = count_d(b) /
    n_tokens_d`` is the same mean pooling ``classifier_quality_score``
    applies at inference (``sigmoid(Σ_b x_db·w_b)``), so the returned
    ``(bucket, weight)`` relation plugs straight into it with
    ``bias=0``.

    Per iteration (textbook batch GD): ``p_d = σ(Σ x_db w_b)``,
    ``grad_b = Σ_d x_db (p_d − y_d) / N``, ``w_b ← w_b − lr·grad_b``.
    Labels are 0/1 (``label_col`` is cast to double). Documents with
    no tokens carry no evidence and drop out of N.

    Cross-engine determinism (the pagerank/bpe_train recipe, hardened
    r10): per-row products round to 12 digits and sum as
    ``decimal(38,12)`` (re-association-proof; a product of two 6-digit
    values IS 12-digit, so that round is exact), sigmoids round to 6
    (transcendental — never an exact decimal half), and every CHAINED
    6-digit quantity (features, gradients, weights) rounds via
    ``floor(x·1e6 + 0.5)/1e6`` — pure IEEE double ops that are
    bit-identical across engines. Plain ``round(double, 6)`` diverges
    cross-engine on EXACT 7-digit halves (Spark re-reads the shortest
    decimal string and rounds half-up; DuckDB rounds the scaled
    double) — measured 1.3 % of exact-half draws, and ``w − lr·g``
    lands on one whenever a gradient's 6th digit is odd (the r10
    conflict fuzz flipped one bucket exactly this way).

    Scale: the (doc, bucket, x) feature relation is built ONCE,
    hash-partitioned on the document id and PERSISTED — the margin
    aggregation and the residual join then run shuffle-free every
    iteration (the persisted partitioning satisfies both), the model
    relation (≤ distinct buckets) broadcasts into the feature join,
    and the only per-iteration shuffle is the map-side-combined
    ``groupBy(bucket)`` gradient, bounded by distinct (doc, bucket)
    pairs. Per-round ``localCheckpoint`` truncates the weight
    lineage (``reliable=True`` for HDFS checkpoints on a real
    cluster). Driver state per run is ONE bounded scalar (N).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")

    def mat(d: DataFrame) -> DataFrame:
        return d.checkpoint(eager=True) if reliable else \
            d.localCheckpoint(eager=True)

    # Duplicate-id contract (r9 fuzz, tightened r10): ONE training
    # example per id. Verbatim physical copies collapse (they would
    # double-count N/gradients AND corrupt the merged feature vector
    # to x = 2c/n through the (id, bucket) group); copies with
    # DIVERGENT content resolve to the min-md5(token-string) version —
    # a per-id margin/label/feature panel cannot represent two
    # versions, so a deterministic winner is the only twin-mirrorable
    # semantic (label joins the fingerprint as the tie-break for the
    # same-text-different-label corner). One groupBy(id) exchange,
    # directly upstream of the id-repartition the persisted relations
    # pay anyway.
    # The per-id winner groupBy subsumes the earlier ``.distinct()``
    # (min over a multiset equals min over its distinct set), and its
    # exchange IS the id partitioning every downstream relation needs:
    # ``base`` is persisted hash-partitioned by id straight out of the
    # winner aggregation, so the labels projection, the (id, bucket)
    # feature aggregation (grouping keys ⊇ the partitioning key →
    # partition-local), the margin aggregation and the residual join
    # all ride that one exchange. The r13 shape paid a corpus-array
    # distinct exchange, TWO explicit repartition(id) exchanges, and
    # tokenized the corpus twice (labels and feats each replayed the
    # base lineage); this shape pays one exchange and one tokenization
    # (measured 4.2 → 2.0 s at sf0.1, values identical).
    # The returned weights are an eager localCheckpoint, so they no
    # longer reference the training caches: the scope releases all of
    # them on return.
    with cache_scope():
        fp = F.md5(F.encode(F.concat_ws(" ", "__t"), "UTF-8"))
        base = persist(
            df.select(F.col(id_col), _word_array(text_col).alias("__t"),
                      F.col(label_col).cast("double").alias("__y"))
            .filter(F.size("__t") > 0)
            .withColumn("__fp", fp)
            .groupBy(id_col)
            .agg(F.min(F.struct("__fp", "__y", "__t")).alias("__m"))
            .select(F.col(id_col), F.col("__m.__t").alias("__t"),
                    F.col("__m.__y").alias("__y")))
        labels = persist(base.select(id_col, "__y"))
        feats = persist(
            base.select(F.col(id_col), F.size("__t").alias("__n"),
                        F.explode("__t").alias("__tok"))
            .select(F.col(id_col), "__n",
                    (hash60(F.col("__tok")) % F.lit(dim)).alias("bucket"))
            .groupBy(id_col, "bucket", "__n")
            .agg(F.count("*").alias("__c"))
            .select(F.col(id_col), "bucket",
                    _r6(F.col("__c") / F.col("__n")).alias("__x")))
        n_docs = labels.count()
        if n_docs == 0:
            return df.sparkSession.createDataFrame(
                [], "bucket bigint, weight double")
        w = mat(feats.select("bucket").distinct()
                .withColumn("weight", F.lit(0.0)))
        # labels (count above) and feats (the seed-weight checkpoint)
        # are materialized — the token-array cache has served both
        base.unpersist()
        dec = "decimal(38,12)"
        for _ in range(n_iter):
            margins = (feats.join(F.broadcast(w), "bucket")
                       .groupBy(id_col)
                       .agg(F.sum(F.round(F.col("__x") * F.col("weight"),
                                          12).cast(dec)).alias("__m")))
            resid = (margins.join(labels, id_col)
                     .select(F.col(id_col),
                             (F.round(F.lit(1.0)
                                      / (F.lit(1.0)
                                         # ansi-ok: __m is numeric (margin); negation after double cast
                                         + F.exp(-F.col("__m").cast("double"))),
                                      6) - F.col("__y")).alias("__r")))
            grads = (feats.join(resid, id_col)
                     .groupBy("bucket")
                     .agg(_r6(
                         F.sum(F.round(F.col("__x") * F.col("__r"), 12)
                               .cast(dec)).cast("double") / n_docs)
                         .alias("__g")))
            w = mat(w.join(grads, "bucket", "left")
                    .select("bucket",
                            _r6(F.col("weight")
                                - lr * F.coalesce("__g", F.lit(0.0)))
                            .alias("weight")))
        return w


def temperature_mixture(df: DataFrame, strata_col: str, text_col: str,
                        tau: float = 2.0) -> DataFrame:
    """Temperature-scaled mixture shares — the multilingual sampling
    formula (mT5 / XLM-R): resampling weights ``q_s ∝ p_s^(1/τ)``
    flatten the stratum distribution for τ > 1 (τ→∞ → uniform, τ=1 →
    natural, τ<1 sharpens), boosting low-resource strata without a
    hand-written target mixture — XLM-R's ``α = 0.3`` exponent
    (arXiv:1911.02116 §3.1) is ``τ = 1/α ≈ 3.33`` here. The
    ``mixture_plan`` sibling for when the target is a temperature,
    not explicit shares.

    Per stratum: ``n_docs``, ``n_tokens``, ``current_share`` (natural
    token share), ``temp_share`` (the temperature-scaled target),
    ``repeat_factor`` (temp/current — per-epoch repetition a weighted
    loader applies) and ``sample_rate`` (repeat_factor scaled to max 1
    — feed to ``stratified_sample`` for the no-repetition plan).

    One corpus aggregation; everything after runs on |strata| rows
    (constant-key windows over that tiny frame). The double share sum
    routes through ``decimal(38,6)`` (order-independent); pow/ratios
    round to 6 at each step — the cross-engine contract.
    """
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    from pyspark.sql import Window

    nt = F.size(_word_array(text_col))
    per = (df.groupBy(strata_col)
           .agg(F.count("*").alias("n_docs"),
                F.sum(nt.cast("bigint")).alias("n_tokens")))
    everything = Window.partitionBy(F.lit(0))
    share = F.col("n_tokens") / F.col("__total")
    raw = (per
           .withColumn("__total", F.sum("n_tokens").over(everything))
           .withColumn("__w", F.round(F.pow(share, F.lit(1.0 / tau)), 6))
           .withColumn("__sw", F.sum(F.col("__w").cast("decimal(38,6)"))
                       .over(everything))
           .withColumn("temp_share",
                       F.round(F.col("__w")
                               / F.col("__sw").cast("double"), 6))
           .withColumn("repeat_factor",
                       F.round(F.col("temp_share") / share, 6))
           .withColumn("__bmax",
                       F.max("repeat_factor").over(everything)))
    return raw.select(
        strata_col, "n_docs", "n_tokens",
        F.round(share, 6).alias("current_share"),
        "temp_share", "repeat_factor",
        F.round(F.col("repeat_factor") / F.col("__bmax"), 6)
        .alias("sample_rate"))


def drop_repeated_spans(df: DataFrame, id_col: str, text_col: str,
                        k: int = 10, min_docs: int = 2) -> DataFrame:
    """The REMOVAL half of exact substring dedup (Lee et al., ACL'22
    §4.1 ExactSubstr): cut every merged cross-document repeated
    interval (``repeated_spans``) out of every document and re-join
    the surviving tokens — the transform that actually strips
    boilerplate from a training corpus, not just flags it.

    Output: ``(id, clean_text, n_kept, n_removed)`` for EVERY input
    document. ``clean_text`` is the NORMALIZED token stream
    (lowercase, punctuation-split — the corpus-dedup convention all
    the span arithmetic runs in) minus removed intervals; documents
    with no repeated spans round-trip their normalized text intact,
    token-less documents yield an empty string.

    Plan shape (linear in corpus tokens, no per-row HOF in the hot
    path): one posexplode of the token arrays; removal is ONE
    equi-join on the document id with the interval-membership range
    residual (intervals are disjoint after the gaps-and-islands
    merge, so a position matches at most once — no row amplification);
    reassembly is one map-side-collected sort_array + concat_ws per
    document. The spans relation itself rides ``repeated_spans``'s
    argued plan.
    """
    spans = repeated_spans(df, id_col, text_col, k, min_docs).select(
        F.col(id_col).alias("__sid"), "span_start", "span_end")
    return _remove_intervals(df, id_col, text_col, spans)


def _remove_intervals(df: DataFrame, id_col: str, text_col: str,
                      spans: DataFrame) -> DataFrame:
    """Shared removal tail: cut DISJOINT 1-based token intervals
    ``(__sid, span_start, span_end)`` out of every document and
    rejoin survivors in position order — the drop_repeated_spans /
    decontaminate_spans common core. One posexplode, one id-equi +
    range-residual membership join (disjoint intervals: a position
    matches at most once, zero amplification), one ordered-reassembly
    groupBy.

    The reassembly exchange carries exploded ``(id, pos, token)`` rows
    — ~3× the corpus text bytes. A doc-partitioned variant (repartition
    the corpus by id first, reassemble partition-locally) was measured
    ~15% SLOWER at sf0.1 for only that ~3× byte saving — the exploded
    rows here are span-arithmetic-sized, not gram-fan-out-sized, so
    unlike ``repetition_stats`` the amplification is modest and the
    flat shuffle wins; kept deliberately."""
    toks = df.select(F.col(id_col), _word_array(text_col).alias("__t"))
    totals = toks.select(F.col(id_col),
                         F.coalesce(F.size("__t"), F.lit(0))
                         .cast("bigint").alias("__tot"))
    pos = (toks.select(F.col(id_col),
                       F.posexplode_outer("__t").alias("__p0", "__w"))
           .filter(F.col("__w").isNotNull())
           .select(F.col(id_col), (F.col("__p0") + 1).alias("__p"),
                   "__w"))
    kept = (pos.join(spans,
                     (F.col(id_col) == F.col("__sid"))
                     & (F.col("__p") >= F.col("span_start"))
                     & (F.col("__p") <= F.col("span_end")), "left")
            .filter(F.col("__sid").isNull())
            .select(id_col, "__p", "__w"))
    agg = (kept.groupBy(id_col)
           .agg(F.concat_ws(" ", F.transform(
               F.array_sort(F.collect_list(F.struct("__p", "__w"))),
               lambda s: s["__w"])).alias("clean_text"),
               F.count("*").alias("n_kept")))
    return (totals.join(agg, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_kept", F.lit(0).cast("bigint"))
                    .alias("n_kept"),
                    (F.col("__tot")
                     - F.coalesce("n_kept", F.lit(0).cast("bigint")))
                    .alias("n_removed")))


def decontaminate_spans(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str, text_col: str,
                        n: int = 13) -> DataFrame:
    """Span-level benchmark decontamination — the REMOVAL transform
    (GPT-3 appendix-C discipline, applied surgically): cut every
    corpus token interval that exactly matches a benchmark ``n``-gram
    and rejoin the survivors, instead of dropping whole documents
    (``benchmark_contamination`` flags; this repairs — the same
    flag→remove symmetry as ``repeated_spans`` →
    ``drop_repeated_spans``). Overlapping hits merge into one removed
    island first (gaps-and-islands), so adjacent benchmark grams cut
    once.

    Output: ``(id, clean_text, n_kept, n_removed)`` for EVERY corpus
    document (normalized token stream, the corpus-dedup convention).

    Plan shape: corpus gram positions explode once and inner-join the
    DISTINCT benchmark gram set (broadcast-sized for real benchmark
    suites — AQE promotes it; corpus text itself never shuffles for
    the match, the ``benchmark_contamination`` argument); interval
    merge is two bounded windows over HIT rows only; removal is the
    shared ``_remove_intervals`` membership join.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = corpus.select(F.col(id_col), _word_array(text_col)
                         .alias("__w"))
    cg = (toks.select(
        F.col(id_col),
        F.posexplode_outer(_gram_array_all(F.col("__w"), n))
        .alias("__i", "gram"))
        .filter(F.col("gram").isNotNull())
        .select(F.col(id_col), (F.col("__i") + 1).alias("__s"),
                "gram"))
    bg = (benchmark.select(_word_array(text_col).alias("__w"))
          .select(F.explode_outer(_gram_array(F.col("__w"), n))
                  .alias("gram"))
          .distinct())
    hits = (cg.join(bg, "gram")
            .select(F.col(id_col), F.col("__s"),
                    (F.col("__s") + (n - 1)).alias("__e")))
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy("__s")
    brk = hits.withColumn(
        "__b",
        F.when(F.col("__s") > F.coalesce(
            F.max("__e").over(w.rowsBetween(Window.unboundedPreceding,
                                            -1)), F.lit(-1)),
            F.lit(1)).otherwise(F.lit(0)))
    isl = brk.withColumn(
        "__island",
        F.sum("__b").over(w.rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)))
    spans = (isl.groupBy(id_col, "__island")
             .agg(F.min("__s").alias("span_start"),
                  F.max("__e").alias("span_end"))
             .select(F.col(id_col).alias("__sid"), "span_start",
                     "span_end"))
    return _remove_intervals(corpus, id_col, text_col, spans)


#: C4 line rules: terminal punctuation, minimum words, dropped phrases
C4_TERMINAL_PUNCT = (".", "!", "?", "\"")
C4_MIN_LINE_WORDS = 3
C4_DROP_LINE_PHRASES = ("javascript",)
#: C4 document markers: placeholder text, a ``{`` hinting at source code
C4_DOC_DROP_SUBSTRINGS = ("lorem ipsum", "{")


def c4_clean(df: DataFrame, id_col: str, text_col: str, *,
             badwords: tuple[str, ...] = (),
             min_kept_lines: int = 1) -> DataFrame:
    """C4-style line-level corpus cleaning (Raffel et al., JMLR 2020
    §2.2 — the rules behind the C4/"colossal clean crawl" corpus): keep
    only lines that end in terminal punctuation (``C4_TERMINAL_PUNCT``),
    have at least ``C4_MIN_LINE_WORDS`` words, and mention none of
    ``C4_DROP_LINE_PHRASES``; flag (never silently drop) documents that
    contain a blocked word token, a ``C4_DOC_DROP_SUBSTRINGS`` marker
    ("lorem ipsum" placeholder text, a ``{`` hinting at source code),
    or fewer than ``min_kept_lines`` surviving lines.

    Output, one row per input document (annotate-don't-drop, the house
    convention): ``(id, clean_text, n_lines, n_kept_lines,
    has_badword, has_doc_drop, keep)``. ``clean_text`` re-joins the
    surviving ORIGINAL lines with ``\\n`` in input order — line
    filtering is C4's transform, so the cleaned text is the payload,
    and the doc-level flags say whether to use it at all.

    Cross-engine parity: line word counts are
    ``regexp_count(lower(line), '[a-z0-9_]+')`` (one flat codegen'd
    regex — NOT a per-line higher-order filter, per the repo HOF
    rule), phrase/marker checks are case-insensitive ``contains``,
    badwords match whole TOKENS (``arrays_overlap`` against the
    ``word_tokens`` array — "class" never triggers "ass").

    Plan shape: one line posexplode (no shuffle), per-line flags in
    whole-stage codegen, ONE groupBy(id) reassembly shuffle carrying
    only kept lines, one id-equi join back to the zero-shuffle
    doc-level flag projection. Linear in corpus bytes; no UDF, no
    driver collect.
    """
    base = df.select(F.col(id_col), F.col(text_col).alias("__txt"))
    lo = simple_lower(F.col("__txt"))
    has_bad = F.lit(False)
    if badwords:
        has_bad = F.arrays_overlap(
            _word_array("__txt"),
            F.array(*[F.lit(b.lower()) for b in badwords]))
    has_drop = F.lit(False)
    for s in C4_DOC_DROP_SUBSTRINGS:
        has_drop = has_drop | F.contains(lo, F.lit(s.lower()))
    docs = base.select(
        F.col(id_col),
        F.coalesce(F.size(F.split("__txt", "\n")), F.lit(0))
        .cast("bigint").alias("n_lines"),
        F.coalesce(has_bad, F.lit(False)).alias("has_badword"),
        F.coalesce(has_drop, F.lit(False)).alias("has_doc_drop"))

    lines = (base.select(F.col(id_col),
                         F.posexplode(F.split("__txt", "\n"))
                         .alias("__p", "__l"))
             .withColumn("__t", F.trim("__l")))
    ends_ok = F.right(F.col("__t"), F.lit(1)).isin(*C4_TERMINAL_PUNCT)
    words_ok = (F.regexp_count(simple_lower(F.col("__t")), F.lit("[a-z0-9_]+"))
                >= C4_MIN_LINE_WORDS)
    phrase_ok = F.lit(True)
    for p in C4_DROP_LINE_PHRASES:
        phrase_ok = phrase_ok & ~F.contains(simple_lower(F.col("__t")),
                                            F.lit(p.lower()))
    # duplicate-id contract (r9 fuzz): the reassembly is keyed on the
    # id, so verbatim physical copies contribute identical (pos, line)
    # structs — collect_set dedups them inside the shuffle the plan
    # already pays (collect_list doubled every clean line); legitimate
    # repeated lines WITHIN a doc survive (distinct positions).
    kept = (lines.filter(ends_ok & words_ok & phrase_ok)
            .groupBy(id_col)
            .agg(F.array_sort(F.collect_set(F.struct("__p", "__l")))
                 .alias("__ls"))
            .select(F.col(id_col),
                    F.concat_ws("\n", F.transform(
                        F.col("__ls"), lambda s: s["__l"]))
                    .alias("clean_text"),
                    F.size("__ls").cast("bigint").alias("n_kept_lines")))
    n_kept = F.coalesce("n_kept_lines", F.lit(0).cast("bigint"))
    return (docs.join(kept, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("clean_text", F.lit(""))
                    .alias("clean_text"),
                    "n_lines", n_kept.alias("n_kept_lines"),
                    "has_badword", "has_doc_drop",
                    (~F.col("has_badword") & ~F.col("has_doc_drop")
                     & (n_kept >= min_kept_lines)).alias("keep")))


def calibration_bins(df: DataFrame, score_col: str, label_col: str,
                     n_bins: int = 10) -> DataFrame:
    """Reliability-diagram binning for a probabilistic quality
    classifier (Guo et al., ICML 2017 calibration methodology): bucket
    predictions by confidence — ``bin = min(floor(score·n_bins),
    n_bins−1)`` over scores in [0, 1] — and report, per bin, the count,
    mean predicted score (confidence) and observed positive rate
    (accuracy). ``gap = frac_pos − mean_score`` is the per-bin
    calibration error; ``Σ n/N·|gap|`` over the output is ECE. The
    standard audit before a classifier score (e.g.
    ``classifier_quality_score``) is used as a *sampling weight* —
    miscalibrated scores silently skew the mixture.

    Output: ``(bin, n, mean_score, frac_pos, gap)``, one row per
    non-empty bin. Rows with NULL score or label drop out (no
    evidence). Determinism: per-row scores round to 6 then sum as
    ``decimal(38,6)``; both means divide in double and round to 6
    (the repo cross-engine recipe).

    Scale: ONE map-side-combined aggregation over ≤ ``n_bins``
    groups — shuffle volume is ``n_bins`` rows per map partition,
    independent of corpus size.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("boolean")
    b = F.least(F.floor(s * n_bins), F.lit(n_bins - 1)).cast("bigint")
    rows = (df.filter(s.isNotNull() & y.isNotNull())
            .select(b.alias("bin"),
                    F.round(s, 6).cast("decimal(38,6)").alias("__s"),
                    y.cast("int").alias("__y")))
    return (rows.groupBy("bin")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("__s").cast("double") / F.count("*"), 6)
                 .alias("mean_score"),
                 F.round(F.sum("__y").cast("double") / F.count("*"), 6)
                 .alias("frac_pos"))
            .select("bin", "n", "mean_score", "frac_pos",
                    F.round(F.col("frac_pos") - F.col("mean_score"), 6)
                    .alias("gap")))


def pmi_collocations(df: DataFrame, id_col: str, text_col: str,
                     min_count: int = 5) -> DataFrame:
    """Collocation extraction via pointwise mutual information (Church
    & Hanks, CL 1990): for every adjacent token bigram seen at least
    ``min_count`` times, ``pmi = ln(p(w1,w2) / (p(w1)·p(w2)))`` with
    unigram probabilities over all corpus tokens and bigram
    probability over all adjacent pairs. High-PMI pairs are the
    multi-word expressions ("new york", "machine learning") a
    tokenizer-vocab or phrase-mining pass wants; low/negative PMI
    flags tokens glued together by boilerplate.

    Output: ``(w1, w2, pair_count, w1_count, w2_count, pmi)`` with
    ``pmi`` rounded to 6 digits (the cross-engine double convention;
    the ln argument is associated identically in the SQL twin).

    Plan shape: bigrams via the flat ``arrays_zip`` of two array
    slices (no zip_with lambda in the hot path, no token self-join);
    unigram and bigram counts are map-side-combined aggregations
    carrying narrow token rows; the ``min_count`` filter prunes the
    hapax tail BEFORE the two vocabulary equi-joins, and the corpus
    totals attach as 1-row broadcasts — everything is linear in corpus
    tokens, and the joined relations are vocabulary-sized, not
    corpus-sized.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1: {min_count}")
    toks = df.select(F.col(id_col), _word_array(text_col).alias("__t"))
    uni = (toks.select(F.explode_outer("__t").alias("__w"))
           .filter(F.col("__w").isNotNull())
           .groupBy("__w").agg(F.count("*").alias("__c")))
    tot = (toks.agg(F.sum(F.coalesce(F.size("__t"), F.lit(0)))
                    .cast("double").alias("__T"),
                    F.sum(F.greatest(F.size("__t") - 1, F.lit(0)))
                    .cast("double").alias("__B"))
           .withColumn("__k", F.lit(1)))
    pairs = toks.filter(F.size("__t") >= 2)
    n1 = F.size("__t") - 1
    bi = (pairs.select(
        F.explode_outer(F.arrays_zip(
            F.slice("__t", 1, n1).alias("w1"),
            F.slice("__t", 2, n1).alias("w2"))).alias("__b"))
        .select(F.col("__b.w1").alias("w1"),
                F.col("__b.w2").alias("w2")))
    bc = (bi.groupBy("w1", "w2").agg(F.count("*").alias("pair_count"))
          .filter(F.col("pair_count") >= min_count)
          .withColumn("__k", F.lit(1)))
    u1 = uni.select(F.col("__w").alias("w1"),
                    F.col("__c").alias("w1_count"))
    u2 = uni.select(F.col("__w").alias("w2"),
                    F.col("__c").alias("w2_count"))
    return (bc.join(u1, "w1").join(u2, "w2")
            .join(F.broadcast(tot), "__k")
            .select("w1", "w2", "pair_count", "w1_count", "w2_count",
                    F.round(F.log(
                        (F.col("pair_count").cast("double") / F.col("__B"))
                        / ((F.col("w1_count").cast("double") / F.col("__T"))
                           * (F.col("w2_count").cast("double")
                              / F.col("__T")))), 6).alias("pmi")))


def _gram_array_all(words: Column, n: int) -> Column:
    """ALL token n-grams (with multiplicity) of a materialized
    token-array column — the counting twin of ``_gram_array``.
    ``sequence(1, 0)`` counts DOWN — short docs are guarded to empty."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    return (F.when(F.size(words) >= n, grams)
            .otherwise(F.array().cast("array<string>")))


def ngram_diversity(df: DataFrame, id_col: str, text_col: str,
                    strata_col: str,
                    ns: tuple[int, ...] = (1, 2, 3)) -> DataFrame:
    """Distinct-n diversity (Li et al., NAACL 2016 §5 — the standard
    degeneracy/repetitiveness metric): per stratum and gram order
    ``n``, the number of n-gram tokens, the number of DISTINCT
    n-grams, and their ratio. A mode-collapsed or boilerplate-heavy
    stratum shows distinct-2/3 ratios far below its peers — the
    corpus-level counterpart of the per-document
    ``repetition_stats``.

    Output: ``(stratum, n, total_grams, distinct_grams, ratio)``;
    ratio rounds to 6, strata with zero grams at order ``n`` report
    a 0-total row only if the stratum exists at another order (empty
    gram relations simply contribute nothing).

    Plan shape: one gram explode per order (flat transform + slice,
    union-stacked), then ONE aggregation per (stratum, n) computing
    count + count(DISTINCT gram) — Spark plans the distinct as a
    two-phase partial aggregate, so the shuffle carries (stratum, n,
    gram) rows that map-side-combine; nothing is corpus-quadratic
    and no gram list ever materializes per stratum.
    """
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"ns must be non-empty positive orders: {ns}")
    toks = df.select(F.col(strata_col).alias("stratum"),
                     _word_array(text_col).alias("__t"))
    parts = [toks.select("stratum", F.lit(int(n)).alias("n"),
                         F.explode(_gram_array_all(F.col("__t"), n))
                         .alias("__g")) for n in ns]
    allg = parts[0]
    for p in parts[1:]:
        allg = allg.unionByName(p)
    return (allg.groupBy("stratum", "n")
            .agg(F.count("*").alias("total_grams"),
                 F.countDistinct("__g").alias("distinct_grams"))
            .select("stratum", "n", "total_grams", "distinct_grams",
                    F.round(F.col("distinct_grams").cast("double")
                            / F.col("total_grams"), 6).alias("ratio")))


def novelty_score(df: DataFrame, reference: DataFrame, id_col: str,
                  text_col: str, n: int = 3) -> DataFrame:
    """Per-document novelty against a reference corpus: the fraction
    of the document's DISTINCT n-grams that never occur in
    ``reference`` — the memorization/regurgitation audit (how much of
    a candidate batch is already covered by what the model trained
    on), the inverse axis of ``benchmark_contamination``'s overlap
    count.

    Output: ``(id, n_grams, n_novel, novelty)`` for every ADDRESSABLE
    input doc (NULL-id rows are excluded — the per-doc groupBy would
    otherwise merge them into one artifact row whose join-back then
    zeroes n_novel, since an equi-join never matches NULL);
    ``novelty`` rounds to 6, documents with no order-``n`` grams
    (including NULL text) get n_grams 0 and NULL novelty (no evidence).

    Plan shape: both sides explode to distinct gram relations; the
    reference side is aggregated to DISTINCT grams once (its size is
    vocabulary-like, far below corpus rows) and the membership test
    is one LEFT ANTI equi-join on the gram — no broadcast assumption
    (a 100 TB reference's gram relation still equi-joins; AQE
    broadcasts it only when it fits), map-side combine on both
    explodes, never a per-doc loop.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # duplicate-id contract (r9 fuzz, tightened r10): one row per
    # LOGICAL doc. Verbatim physical copies collapse on the doc-level
    # (id, tokens) projection — one narrow |docs|-row exchange — NOT
    # via countDistinct in the gram aggs, which re-shuffles the whole
    # |grams| relation per aggregate (measured: 33.7k → 316k shuffled
    # rows at sf0.01, a 9× ratio regression caught by the
    # shuffle-audit gate). CONFLICTING copies resolve to the
    # min-md5(token-string) version (the keyed-panel winner rule:
    # summing both versions' gram counts into one id's panel — the r9
    # behavior — double-counts content no single version has); the
    # 'zz' sentinel sorts NULL-text versions after any real content
    # and keeps all-NULL docs addressable (n_grams 0, NULL novelty).
    # Within-row grams are already distinct (_gram_array), so plain
    # counts stay exact.
    vers = (df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col), _word_array(text_col).alias("__t"))
            .distinct())
    # The outer coalesce never fires (the CASE always yields a value):
    # it marks __fp NON-NULLABLE so Catalyst does not infer an
    # isnotnull(__fp) join filter and push it below the projection with
    # the whole tokenize lambda inlined (the inferred-filter recompute
    # class — plan_audit's LAMBDA-FILTER flag caught exactly this).
    fp = F.coalesce(
        F.when(F.col("__t").isNotNull(),
               F.md5(F.encode(F.concat_ws(" ", "__t"), "UTF-8")))
        .otherwise(F.lit("zz")),
        F.lit("zz"))
    vers = vers.withColumn("__fp", fp)
    winner = vers.groupBy(id_col).agg(F.min("__fp").alias("__fp"))
    docs = vers.join(winner, [id_col, "__fp"]).drop("__fp")
    dg = (docs.select(F.col(id_col),
                      F.explode_outer(_gram_array(F.col("__t"), n))
                      .alias("__g")))
    refg = (reference.select(_word_array(text_col).alias("__t"))
            .select(F.explode(_gram_array(F.col("__t"), n)).alias("__g"))
            .distinct())
    novel = (dg.filter(F.col("__g").isNotNull())
             .join(refg, "__g", "left_anti")
             .groupBy(id_col).agg(F.count("*").alias("n_novel")))
    totals = (dg.groupBy(id_col)
              .agg(F.count("__g").alias("n_grams")))
    return (totals.join(novel, id_col, "left")
            .select(F.col(id_col), "n_grams",
                    F.coalesce("n_novel", F.lit(0).cast("bigint"))
                    .alias("n_novel"),
                    F.when(F.col("n_grams") > 0, F.round(
                        F.coalesce("n_novel", F.lit(0).cast("bigint"))
                        .cast("double") / F.col("n_grams"), 6))
                    .alias("novelty")))


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str,
                text_col: str) -> DataFrame:
    """Snapshot-to-snapshot corpus diff — the change-data-capture step
    an INCREMENTAL pipeline keys on (re-clean/re-embed only what
    changed; the batch analog of the streaming ingestion gate):
    every id labeled ``added`` / ``removed`` / ``changed`` /
    ``unchanged`` by comparing normalized-content fingerprints
    (``functions.text.fingerprint`` — case/punct/whitespace-robust,
    the corpus-dedup convention), carrying both fingerprints for
    audit.

    Output: ``(id, status, old_fp, new_fp)``.

    Plan shape: each side reduces to ``(id, fp)`` in a zero-shuffle
    projection; ONE full-outer equi-join on the id decides the
    status. Text never shuffles — only 32-byte fingerprints move.
    At 100 TB the join is the unavoidable comparison; everything
    else is map-side.
    """
    from zacks_estimates_financial_statements_spark.functions import text as _T

    # Presence is tracked EXPLICITLY, not via fingerprint nullness: a
    # doc that exists in both snapshots with NULL text has a NULL
    # fingerprint on both sides and must read "unchanged" (null-safe
    # compare), not "added" (round-8 contract fuzz).
    # Duplicate-id contract (r9 fuzz): the diff is KEYED — one status
    # per id per side, so each side reduces to one (id, min fp) row
    # (verbatim copies are identical; for divergent copies the min
    # fingerprint represents the side, deterministically). The agg
    # rides the join's own id-key exchange. NULL-id rows are
    # unaddressable and excluded — grouping would otherwise merge every
    # such doc into one fingerprint.
    o = (old.filter(F.col(id_col).isNotNull())
         .select(F.col(id_col),
                 _T.fingerprint(F.col(text_col)).alias("old_fp"))
         .groupBy(id_col).agg(F.min("old_fp").alias("old_fp"))
         .withColumn("__in_old", F.lit(True)))
    n = (new.filter(F.col(id_col).isNotNull())
         .select(F.col(id_col),
                 _T.fingerprint(F.col(text_col)).alias("new_fp"))
         .groupBy(id_col).agg(F.min("new_fp").alias("new_fp"))
         .withColumn("__in_new", F.lit(True)))
    j = o.join(n, id_col, "full_outer")
    status = (F.when(F.col("__in_old").isNull(), F.lit("added"))
              .when(F.col("__in_new").isNull(), F.lit("removed"))
              .when(F.col("old_fp").eqNullSafe(F.col("new_fp")),
                    F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select(F.col(id_col), status.alias("status"),
                    "old_fp", "new_fp")


def epoch_plan(df: DataFrame, strata_col: str, text_col: str,
               budget_tokens: int, max_epochs: float = 4.0,
               tau: float = 1.0) -> DataFrame:
    """Data-constrained mixture allocation (the Muennighoff et al.
    2023 "data-constrained scaling" regime): fill a training budget
    across strata proportionally to temperature-``tau`` weights, but
    cap every stratum at ``max_epochs`` repetitions of its unique
    tokens — the point where repeated data stops helping. The
    proportional-with-caps optimum is WATER-FILLING: small strata hit
    their epoch cap, the freed budget re-spreads over the rest; the
    classic iterative solution has a closed form over the sorted
    cap/weight ratios (largest boundary k with ``r_k ≤ λ_k`` where
    ``λ_k = (B − Σ_{i≤k} cap_i) / Σ_{i>k} w_i``), which is two prefix
    sums and a lead() on the |strata|-row frame — no driver loop.

    Output per stratum: ``(stratum, n_tokens, weight, cap_tokens,
    alloc_tokens, epochs, capped)``; ``Σ alloc_tokens ≈ B`` (6-digit
    quantization) unless the budget exceeds every cap, in which case
    every stratum saturates at ``max_epochs`` and the plan reports
    the shortfall implicitly (Σ alloc < B).

    Determinism: weights are the decimal-routed temperature shares
    (``temperature_mixture``'s recipe); every ratio/λ/allocation
    rounds to 6; ratio ties sort by stratum. Scale: ONE corpus
    aggregation; every window below it runs on |strata| rows (the
    mixture_plan contract).
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0: {budget_tokens}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0: {max_epochs}")
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    from pyspark.sql import Window

    nt = F.size(_word_array(text_col))
    per = (df.groupBy(strata_col)
           .agg(F.sum(nt.cast("bigint")).alias("n_tokens"))
           .filter(F.col("n_tokens") > 0))
    every = Window.partitionBy(F.lit(0))
    share = F.col("n_tokens") / F.col("__total")
    w = (per.withColumn("__total", F.sum("n_tokens").over(every))
         .withColumn("__w0", F.round(F.pow(share, F.lit(1.0 / tau)), 6))
         .withColumn("__sw", F.sum(F.col("__w0").cast("decimal(38,6)"))
                     .over(every))
         .withColumn("weight", F.round(F.col("__w0")
                                       / F.col("__sw").cast("double"),
                                       6))
         .withColumn("cap_tokens",
                     F.round(F.col("n_tokens") * float(max_epochs), 6))
         .withColumn("__r", F.round(F.col("cap_tokens")
                                    / F.col("weight"), 6)))
    order = Window.partitionBy(F.lit(0)).orderBy("__r", strata_col)
    run = Window.partitionBy(F.lit(0)).orderBy("__r", strata_col) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b = float(budget_tokens)
    lam_row = F.when(
        F.col("__wrest") > 0,
        F.round((F.lit(b) - F.col("__caps").cast("double"))
                / F.col("__wrest").cast("double"), 6))
    staged = (w
              .withColumn("__caps", F.sum(F.col("cap_tokens")
                                          .cast("decimal(38,6)")).over(run))
              .withColumn("__wsum", F.sum(F.col("weight")
                                          .cast("decimal(38,6)")).over(every))
              .withColumn("__wpre", F.sum(F.col("weight")
                                          .cast("decimal(38,6)")).over(run))
              .withColumn("__wrest", (F.col("__wsum") - F.col("__wpre"))
                          .cast("double"))
              .withColumn("__lam_k", lam_row)
              .withColumn("__rnext", F.lead("__r").over(order)))
    # boundary candidates: all first-k-capped prefixes that satisfy
    # r_k <= lambda_k AND r_{k+1} > lambda_k; plus the none-capped
    # boundary lambda_0 = B / total_w when even the smallest ratio
    # clears it. The final lambda is the (unique) valid candidate.
    lam0 = F.round(F.lit(b) / F.col("__wsum").cast("double"), 6)
    valid = ((F.col("__r") <= F.col("__lam_k"))
             & (F.coalesce(F.col("__rnext") > F.col("__lam_k"),
                           F.lit(True))))
    fin = (staged
           .withColumn("__lam_sel", F.max(F.when(valid, F.col("__lam_k")))
                       .over(every))
           .withColumn("__minr", F.min("__r").over(every))
           .withColumn("__lam", F.coalesce(
               F.when(F.col("__minr") > lam0, lam0),
               F.col("__lam_sel"))))
    alloc = F.when(
        F.col("__lam").isNull(), F.col("cap_tokens")
    ).otherwise(F.round(F.least(F.col("cap_tokens"),
                                F.col("__lam") * F.col("weight")), 6))
    return (fin.select(F.col(strata_col).alias("stratum"), "n_tokens",
                       "weight", "cap_tokens",
                       alloc.alias("alloc_tokens"))
            .withColumn("epochs", F.round(F.col("alloc_tokens")
                                          / F.col("n_tokens"), 6))
            .withColumn("capped",
                        F.col("alloc_tokens") >= F.col("cap_tokens")))
