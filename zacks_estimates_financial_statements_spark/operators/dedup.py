"""Deduplication operators for large-scale training-data pipelines.

All variants are built from native Spark SQL expressions (no Python UDFs)
and use **md5-derived hashes** as the shared deterministic primitive so
every operator has an exact ANSI-SQL twin runnable in DuckDB::

    h_i(x) = int(substr(md5(i || '|' || x), 1, 15), 16)   -- 60-bit

Spark: ``conv(substr(md5(..),1,15),16,10)::bigint``;
DuckDB: ``('0x' || substr(md5(..),1,15))::bigint``.

Operators:

- ``exact_dup_groups`` — full-row (or fingerprint) hash groupBy; one
  shuffle on the hash, min-id winner is deterministic.
- ``minhash_signatures`` / ``minhash_near_dup_pairs`` — MinHash + banded
  LSH: shingle → k minhashes → band buckets → bucket self-join. The
  pair-join runs on band-bucket keys only (no all-pairs blowup); at 100 TB
  the bucket join is the standard scalable path and the shingle explode is
  the dominant (linear) cost.
- ``simhash_bits`` / ``simhash_near_dup_pairs`` — 64-bit SimHash over
  tokens; near-dups = hamming ≤ t via pigeonhole banding (t+1 blocks →
  block-value equi-join with exact recall, WWW'07 design), hamming
  verified by xor+bit_count on the candidates.
- ``ngram_jaccard_pairs`` — exact Jaccard over word shingles via
  grouped shared-shingle pair generation (the verification stage for
  LSH candidates; quadratic only within shingle-sharing groups).
- ``winnow_fingerprints`` — rolling-hash winnowing fingerprints
  (SIGMOD'03): k-gram hashes → sliding-window minima → distinct set.
- ``embedding_near_dup_pairs`` — cosine ≥ threshold pairs, LSH-bucketed by
  sign bits (see operators.similarity for the ANN variants).

Every pair stage generates candidates WITHIN bucket groups (see
``_bucket_pairs``) so the sketch lineage evaluates once, and every
banded join carries a hot-bucket cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions import text as T
from zacks_estimates_financial_statements_spark.functions.text import simple_lower
from zacks_estimates_financial_statements_spark.functions import vectors as V
from zacks_estimates_financial_statements_spark.util import broadcast_threshold_bytes, persist


def hash60(col):
    """The shared 60-bit md5 hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# Universal multiply-mod hash family over the Mersenne prime 2^31-1:
# h_i(x) = (a_i*x + b_i) mod P, the standard MinHash construction
# (Broder 1997; Carter-Wegman 2-universal family). One md5 per shingle
# replaces k salted md5s, and the k derived hashes are two arithmetic
# ops each — products stay < 2^62 so the same expression is exact BIGINT
# math in both Spark and DuckDB. Parameters are a fixed table (seeded
# once) so the DuckDB oracle can inline the identical family.
MINHASH_P = 2147483647
MINHASH_PARAMS: list[tuple[int, int]] = [
    (304421255, 1836435294), (1317016046, 875424808), (421060966, 1255111736), (1858959911, 1760892882),
    (901865199, 1375823314), (1032573392, 666550374), (1320671556, 1683497692), (1638461524, 1734674000),
    (740751845, 474759081), (1885041032, 1572479927), (873515665, 1245340700), (1359527323, 1367669501),
    (1291406679, 2088798602), (853482072, 850667823), (974347029, 1930316807), (1333742723, 2040025221),
    (715041703, 479988512), (1751766369, 120994845), (738198214, 1284782988), (1707367833, 1901732561),
    (1607381208, 555486236), (1619614216, 598578556), (305969688, 1320794893), (1712586462, 1388530616),
    (520304286, 108330589), (801806062, 538093310), (1348224564, 1598573495), (1292363125, 1672632354),
    (1427884308, 111702067), (417926054, 239387588), (833231784, 684276013), (755017778, 1718416179),
]


# ---------------------------------------------------------------------------
# Exact / fingerprint dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str,
                     text_col: str) -> DataFrame:
    """Groups of normalization-invariant duplicates:
    (fingerprint, group_size, keep_id, doc_ids)."""
    fp = T.fingerprint(F.col(text_col))
    return (df.select(fp.alias("fingerprint"), F.col(id_col))
            .groupBy("fingerprint")
            .agg(F.count("*").alias("group_size"),
                 F.min(id_col).alias("keep_id"),
                 F.sort_array(F.collect_list(id_col)).alias("doc_ids")))


#: Largest group cap for which the j-generator may run INSIDE
#: whole-stage codegen (r14 hybrid; VERDICT r13 item 1). A codegen
#: GenerateExec cannot yield mid-loop, so the whole-stage span buffers
#: one INPUT row's entire generated output at the span boundary
#: (``BufferedRowIterator`` — the r13 OOM mechanism). In the hybrid the
#: i-generator stays streaming (non-codegen), so the codegen span
#: begins AT the j-generator and one input row is one (m, i) ANCHOR:
#: the buffer holds at most (m - i) <= cap rows of the NARROWING
#: projection's output (ids + the two payloads — the scorer contract
#: in ``_bucket_pairs`` keeps that projection below the
#: CodegenFallback scorer, so a row at the boundary never carries the
#: member array ``m``). At this
#: cap the worst caller (64-float struct payloads, ~1 KiB/row) buffers
#: ~18 MiB per task — bounded at any scale, vs. the C(m,2)-rows
#: per-BUCKET buffer (gigabytes) that made r13 pin both generators
#: streaming. Uncapped callers (max df/bucket size None) still stream.
PAIR_CODEGEN_MAX_CAP = 16384


def _pair_indices(grouped: DataFrame, cap: int | None):
    """The shared pair-index generator over a ``(bucket_cols..., m)``
    grouped relation: anchor index ``i`` (1..size-1) then partner
    ``j`` (i+1..size), returning ``(idx_df, codegen)``.

    STREAMING INVARIANT (r13 — do not "simplify" away): a whole-stage
    codegen GenerateExec buffers one input row's ENTIRE generated
    output at the stage boundary. The i-generator therefore ALWAYS
    streams (its identity ``transform(sequence(...), x -> x)`` wrapper
    is CodegenFallback, keeping that GenerateExec a lazy flatMap — a
    codegen i-generator would buffer m-1 anchor rows EACH CARRYING A
    COPY of the member array, O(m²) payload bytes per bucket). The
    j-generator is the quadratic one — its wrapper costs one
    interpreted int-array pass PER PAIR — so when ``cap`` bounds the
    group size it runs as a bare codegen explode instead: the codegen
    span then starts at the j-generator and buffers at most one
    ANCHOR's (m - i) <= cap narrow rows (see ``PAIR_CODEGEN_MAX_CAP``
    for the budget; measured r14: ~20% of the pair family's sf0.1
    seconds). Uncapped callers keep the fully-streaming shape."""
    codegen = cap is not None and cap <= PAIR_CODEGEN_MAX_CAP
    anchored = grouped.select(
        F.col("m"),
        F.explode(F.transform(F.sequence(F.lit(1), F.size("m") - 1),
                              lambda x: x)).alias("i"))
    jseq = F.sequence(F.col("i") + 1, F.size("m"))
    jgen = F.explode(jseq) if codegen else \
        F.explode(F.transform(jseq, lambda x: x))
    idx = anchored.select(F.col("m"), F.col("i"), jgen.alias("j"))
    return idx, codegen


def _bucket_pairs(buckets: DataFrame, id_col: str, payload_col: str,
                  bucket_cols: list[str],
                  max_bucket_size: int | None,
                  score) -> DataFrame:
    """Shared LSH candidate generator: group bucket cohabitants, explode
    the i<j member pairs, score each map-side, dedup the narrow result.

    ``buckets``: one row per (doc, bucket) carrying ``payload_col`` (the
    signature/sketch the scorer needs). ``score(pa, pb)`` receives the
    SQL NAMES of the two flat payload columns (so scorers can build
    whole-stage-codegen flat expressions — ``V.cosine_fast`` etc.; a
    scorer evaluated inside a ``transform`` lambda would run interpreted
    per pair, the repo's higher-order-function tax) and returns the
    aliased score Column. Output: (id_a, id_b, <score>), distinct,
    id_a < id_b.

    MEMORY SHAPE (r13 streaming invariant, r14 capped-codegen hybrid):
    a whole-stage-codegen ``GenerateExec`` cannot yield mid-loop — it
    buffers one input row's ENTIRE generated output in
    ``BufferedRowIterator``'s row list (measured r13: a 3000-member
    bucket's C(m,2) pairs OOM a 1 GiB heap). The i-generator therefore
    ALWAYS streams (identity ``transform(sequence(...), x -> x)``
    wrapper = CodegenFallback = lazy flatMap); the quadratic
    j-generator runs in codegen ONLY when ``max_bucket_size`` bounds
    the per-anchor buffer (≤ cap narrow rows — see ``_pair_indices``
    and ``PAIR_CODEGEN_MAX_CAP`` for the full argument), and streams
    for uncapped callers. The scorer's flat-branch CASE compiles
    either way (expression codegen inside its ProjectExec).

    One shuffle (the bucket groupBy) + the final distinct; the upstream
    sketch lineage is evaluated exactly once — a bucket self-join would
    evaluate it per side because Spark does not reuse the exchange
    across aliases of this shape. Hot buckets are dropped with a free
    ``size()`` filter.

    Both explodes generate INDEX sequences (arrays of ints — ~8
    bytes/element), and the two payloads are resolved per pair row
    with ``element_at(m, i/j)`` O(1) lookups in the flat projection.
    No intermediate ever copies payload structs: the earlier
    ``slice(m, i+1, …)`` tail formulation materialized an O(m) STRUCT
    array per anchor row (O(m²) struct copies per bucket), and the
    flattened all-i form would build all C(m,2) pair structs inside
    ONE unspillable row. The member array ``m`` itself crosses the
    generates as a reference, not a copy. ``max_bucket_size``
    therefore bounds *quadratic work* and (on the codegen leg) the
    anchor buffer, never survival.

    With duplicate ids in the input (testdata PKs are documented
    non-unique) the sorted member array holds the id twice; the
    ``id_a != id_b`` filter drops the self-pairs the grouped generator
    would otherwise emit, preserving the strict ``id_a < id_b`` contract
    of the self-join formulation it replaced."""
    grouped = (buckets.groupBy(*bucket_cols)
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col(id_col).alias("id"),
                   F.col(payload_col).alias("payload")))).alias("m"))
               .filter(F.size("m") >= 2))
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("m") <= max_bucket_size)
    # the j>i partner index explodes as a SECOND int sequence (i ranges
    # 1..size-1, so i+1 <= size and the sequence never counts down);
    # payloads resolve per pair row via element_at — the scorer runs in
    # a FLAT projection (expression codegen, CSE across score subterms;
    # both impossible inside the transform-lambda formulation this
    # replaced) and no payload array is ever copied along the way.
    # _pair_indices dispatches the j-generator codegen/streaming on the
    # cap. SCORER CONTRACT for the codegen leg (pinned by
    # test_pair_generators_stream_outside_codegen): a scorer must
    # either reference each payload name MORE THAN ONCE (CollapseProject
    # then refuses to substitute this narrowing projection into the
    # scorer's CodegenFallback projection — all flat-CASE scorers
    # qualify) or be pure-codegen (bit_count-style; a merged projection
    # then stays INSIDE the whole-stage span). A single-reference
    # scorer WITH a fallback branch would collapse the narrowing into a
    # non-codegen projection, end the span at the j-generator, and put
    # the full member array on every span-boundary row — O(m·cap)
    # bytes per anchor, the cliff the hybrid must not reopen. (A
    # ``when(spark_partition_id() >= 0, payload)`` guard would make
    # this structural, but it was measured to copy the payload struct
    # per pair: +25% kernel time — not paid while no such scorer
    # exists.)
    idx, _ = _pair_indices(grouped, max_bucket_size)
    flat = idx.select(
        F.element_at(F.col("m"), F.col("i"))["id"].alias("id_a"),
        F.element_at(F.col("m"), F.col("j"))["id"].alias("id_b"),
        F.element_at(F.col("m"), F.col("i"))["payload"].alias("__pa"),
        F.element_at(F.col("m"), F.col("j"))["payload"].alias("__pb"))
    scored = flat.select("id_a", "id_b", score("__pa", "__pb"))
    score_name = scored.columns[2]
    # Pushdown barrier (guide §4.4's non-determinism trick, applied to
    # an expression instead of a UDF): a caller's score filter would
    # otherwise be pushed below this projection, substituting the full
    # scorer into a Filter over the pre-projection generate rows —
    # evaluating the scorer TWICE per pair, and (because the
    # substituted CASE contains the CodegenFallback fold branch)
    # evaluating the filter copy INTERPRETED, the repo's 10x
    # higher-order-function tax on the hottest path.
    # ``spark_partition_id() >= 0`` is always true, so the value is
    # bit-identical; the expression is merely *classified*
    # non-deterministic, which stops predicate pushdown below this
    # projection. (``rand() >= 0`` would read nicer, but Spark 4
    # constant-folds rand's value bounds.) Score filters still push
    # through the distinct (score is a grouping key), so they run on
    # the narrow pair rows BEFORE the shuffle.
    barrier = scored.select(
        "id_a", "id_b",
        F.when(F.spark_partition_id() >= 0, F.col(score_name))
        .alias(score_name))
    return (barrier.filter(F.col("id_a") != F.col("id_b"))
            .distinct())


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def _minhash_wide(df: DataFrame, id_col: str, text_col: str,
                  k: int, shingle_k: int) -> DataFrame:
    """(id, sig): per-document k-element MinHash signature ARRAY.

    Shape: explode shingles, ONE md5 per shingle in a codegen
    projection, derive the k hash-family values as multiply-mod columns
    (``MINHASH_PARAMS``), then a single groupBy(id) with k partial-agg
    mins. Compared to the salted-md5 formulation (explode × k hash
    indices, groupBy(id, hash_idx)) this computes 1/k-th the md5s, sends
    1/k-th the rows into the shuffle, and needs one aggregation instead
    of two — the earlier "k-agg columns + stack is 1.6× slower" finding
    no longer applies because the expensive md5 stays in the projection
    and only cheap bigint mins enter the aggregate update."""
    if k > len(MINHASH_PARAMS):
        raise ValueError(
            f"k={k} exceeds the fixed hash family ({len(MINHASH_PARAMS)})")
    words = df.select(
        F.col(id_col),
        F.split(T.normalize_text(F.col(text_col)), " ").alias("__words"))
    shingled = words.select(
        F.col(id_col),
        F.explode(T.shingles_from_words(F.col("__words"), shingle_k))
        .alias("shingle"))
    base = shingled.select(
        F.col(id_col),
        (hash60(F.col("shingle")) % F.lit(MINHASH_P)).alias("__b"))
    mins = base.groupBy(id_col).agg(*[
        F.min((F.lit(a) * F.col("__b") + F.lit(b)) % F.lit(MINHASH_P))
        .alias(f"__h{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS[:k])])
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"__h{i}") for i in range(k)]).alias("sig"))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       k: int = 12, shingle_k: int = 3) -> DataFrame:
    """(id, hash_idx, minhash): k MinHash values per document over word
    ``shingle_k``-shingles (long form of ``_minhash_wide``)."""
    wide = _minhash_wide(df, id_col, text_col, k, shingle_k)
    return (wide
            .select(F.col(id_col), F.posexplode("sig"))
            .select(F.col(id_col),
                    F.col("pos").cast("bigint").alias("hash_idx"),
                    F.col("col").alias("minhash")))


def minhash_index(df: DataFrame, id_col: str, text_col: str,
                  k: int = 12, bands: int = 4,
                  shingle_k: int = 3) -> DataFrame:
    """The persistable LSH index relation: ``(id, sig, band, bucket)``
    — one row per (document, band), carrying the full k-element
    signature array so downstream scoring never joins a long signature
    relation.

    Band buckets are derived from the signature array (band b holds
    hash indices b, b+bands, …, ascending — matching the sorted
    "lpad(idx):minhash" pair order of the SQL twin); one aggregation
    feeds both the buckets and any later Jaccard estimate. Write this
    table partitioned by ``bucket`` and incremental ingestion probes it
    without ever re-sketching or re-shuffling the stored corpus
    (``incremental_minhash_pairs``).
    """
    per_doc = _minhash_wide(df, id_col, text_col, k, shingle_k)
    rows_per_band = k // bands
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(F.array_join(F.transform(
                F.sequence(F.lit(0), F.lit(rows_per_band - 1)),
                lambda j: F.concat_ws(
                    ":",
                    F.lpad((b + j * bands).cast("string"), 4, "0"),
                    F.element_at(F.col("sig"), b + j * bands + 1)
                     .cast("string"))), ",")).alias("bucket")))
    return (per_doc
            .select(F.col(id_col), F.col("sig"),
                    F.explode(band_structs).alias("bb"))
            .select(id_col, "sig", F.col("bb.band").alias("band"),
                    F.col("bb.bucket").alias("bucket")))


def incremental_minhash_pairs(index: DataFrame, batch: DataFrame,
                              id_col: str, text_col: str,
                              k: int = 12, bands: int = 4,
                              prune_index_scan: bool = False,
                              max_prune_keys: int = 100_000) -> DataFrame:
    """Incremental near-dup check: which stored corpus documents is
    each NEW batch document a likely near-dup of?

    ``index`` is the stored ``minhash_index`` relation (built once,
    persisted, NOT re-derived per batch); ``batch`` is the raw new
    documents. Only the batch is sketched here — its bucket rows are
    tiny and broadcast into the index probe, so the stored corpus is
    never re-sketched and never shuffles: the cost of admitting a batch
    is O(batch) sketch work plus the index scan. This is the
    ingestion-time dedup gate of a growing corpus (the batch-vs-corpus
    complement of ``minhash_near_dup_pairs``'s corpus-vs-itself sweep).

    ``prune_index_scan=True`` makes even the index SCAN O(probed
    buckets) instead of O(index): the batch's bucket keys (bounded by
    |batch| × bands — collected once from the eagerly materialized
    probe sketch) push down as an ``In(bucket, ...)`` filter that
    parquet row-group statistics prune against, so a 100 TB stored
    index reads only the files containing probed buckets. Off by
    default because the collect is an extra action (and pointless when
    the index is an in-memory relation in tests); turn it on when the
    index is parquet-backed — the streaming ingestion gate's regime.

    Two layout/conf requirements for the prune to actually prune
    (measured in ``tools/minhash_admission_study.py``): (1) write the
    index SORTED (or bucketed) by ``bucket`` — md5 bucket keys are
    uniform, so an unsorted file's every row group spans the whole key
    range and nothing skips; (2) raise
    ``spark.sql.parquet.pushdown.inFilterThreshold`` above the batch's
    key count — past the default (10) Spark degrades the pushed In to
    a min/max RANGE, which uniform keys always span. And the regime
    matters: this is an asymmetric-batch tool — with a corpus-sized
    batch the collected key list itself becomes the bottleneck (the
    study's first cut measured the prune LOSING 13 s to 2 s at ×10
    batch); keep the full-scan broadcast join for symmetric sweeps.

    Both fast-path assumptions are SIZE-GATED (the batch≪corpus regime
    is the design point, not a precondition): the probe broadcast is
    hinted only when its estimated footprint fits the session's
    ``autoBroadcastJoinThreshold`` (an oversized admission batch would
    otherwise OOM every executor's broadcast memory), and the
    driver-side ``isin`` key list is collected only when the batch
    probes ≤ ``max_prune_keys`` distinct buckets (past that the In
    list itself is the driver bottleneck AND parquet can't usefully
    row-group-prune a near-dense key set). Over either bound the
    operator degrades to the un-hinted shuffle join — AQE picks the
    physical strategy from runtime stats — which is exactly
    ``minhash_near_dup_pairs``'s symmetric-sweep regime.

    Returns ``(batch_id, corpus_id, est_jaccard)``, distinct pairs.
    """
    probe = (minhash_index(batch, id_col, text_col, k=k, bands=bands)
             .select(F.col(id_col).alias("__bid"),
                     F.col("sig").alias("__bsig"),
                     "band", "bucket"))
    # one cheap count job sizes the batch (probe rows = batch × bands);
    # per-row footprint ≈ k 64-bit mins + 32-char md5 bucket + id/band
    n_batch = batch.count()
    thr = broadcast_threshold_bytes(batch.sparkSession)
    est_probe_bytes = n_batch * bands * (k * 8 + 160)
    probe_fits = 0 < thr and est_probe_bytes <= thr
    if prune_index_scan:
        # materialize the batch sketch once so the key collect and the
        # join don't each replay the shingle/hash lineage
        probe = probe.localCheckpoint()
        if (probe.select("bucket").distinct().count()
                <= max(0, max_prune_keys)):
            keys = [r["bucket"] for r in
                    probe.select("bucket").distinct().collect()]
            index = index.filter(F.col("bucket").isin(keys))
        # else: key set too large to ship/prune — full index scan, the
        # join's bucket equi-keys still bound the matching work
    est = V.agree_frac_fast("sig", "__bsig", k)
    probe_side = F.broadcast(probe) if probe_fits else probe
    return (index.join(probe_side, ["band", "bucket"])
            .filter(F.col(id_col) != F.col("__bid"))
            .select(F.col("__bid").alias("batch_id"),
                    F.col(id_col).alias("corpus_id"),
                    est.alias("est_jaccard"))
            .distinct())


def minhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           k: int = 12, bands: int = 4,
                           shingle_k: int = 3,
                           max_bucket_size: int | None = 10000) -> DataFrame:
    """Candidate near-dup pairs: documents sharing ≥1 LSH band bucket,
    with the fraction of matching minhashes (the Jaccard estimate).

    Returns (id_a, id_b, est_jaccard), id_a < id_b.

    Plan shape: ``_minhash_wide`` produces the per-doc signature ARRAY
    in one shuffle (k partial-agg mins over a single base hash), so the
    band buckets and the Jaccard estimate (a ``zip_with`` over the two
    arrays) need no joins against a long signature relation. At scale
    only band-bucket cohabitants ever meet, and each carries its
    fixed-size k-element signature, not a k-row join fan-in. The Jaccard
    estimate is computed map-side in the join projection, so the final
    pair dedup shuffles narrow (id_a, id_b, est) rows — never the
    signature arrays.

    ``max_bucket_size`` guards the self-join against degenerate hot
    buckets (e.g. millions of empty/boilerplate docs landing in one
    bucket would otherwise go quadratic): buckets with more cohabitants
    are dropped from candidate generation. Such buckets are near-always
    pathological content whose members are also exact/fingerprint dups —
    route those through ``exact_dup_groups`` instead. ``None`` disables the
    guard. The SQL oracle twin omits the cap (identical below the cap).
    """
    buckets = minhash_index(df, id_col, text_col, k=k, bands=bands,
                            shingle_k=shingle_k)
    # Pairs are generated WITHIN each bucket group (collect cohabitants,
    # explode i<j combinations) rather than by self-joining the buckets
    # relation: Spark does not reuse the exchange across the two aliased
    # sides of that self-join, so the whole shingle→hash→signature
    # lineage would compute twice — the dominant linear cost at scale.
    # The grouped shape computes it once, and the hot-bucket cap becomes
    # a free size() filter instead of an extra window pass.
    return minhash_pairs_from_index(buckets, id_col, k=k,
                                    max_bucket_size=max_bucket_size)


def minhash_pairs_from_index(index: DataFrame, id_col: str, k: int = 12,
                             max_bucket_size: int | None = 10000
                             ) -> DataFrame:
    """``minhash_near_dup_pairs``' sweep over an ALREADY-BUILT
    ``minhash_index`` relation — same output, no re-sketching.

    Use when a caller holds the index anyway (incremental maintenance:
    the corpus-vs-itself sweep AND the batch probe both need it —
    ``q_incremental_cc``'s shape): building the index once and deriving
    the pairs from it halves the corpus shingle→hash→signature lineage,
    which is the dominant linear cost. The two consumers there are
    SEQUENTIAL (connected components materializes the pair edges in
    driver-synchronous jobs before the final probe job runs), so unlike
    parallel-hidden duplicated subtrees this recompute is paid in full
    wall-clock — persist the index across them (r13, the cdc_chunks
    sequential-consumer pattern)."""
    return _bucket_pairs(
        index, id_col, "sig", ["band", "bucket"], max_bucket_size,
        lambda sa, sb: V.agree_frac_fast(sa, sb, k).alias("est_jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_bits(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): per-bit majority vote over token hashes. Tokens are
    the whitespace tokens of the normalized text; token weight 1.

    Plan shape: the votes are 64 FLAT sum expressions in ONE
    hash aggregate over the token rows — not a tokens × nbits bit-row
    explode (the previous broadcast-range form moved 64× the token
    count through the first aggregation; measured 14 CPU-seconds vs
    ~1.5 at sf0.1 for identical results). Map-side combine reduces to
    one 64-column row per document, and the final sketch assembles as
    a pure projection."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(T.normalize_text(F.col(text_col)), " ")).alias("tok"))
    toks = toks.filter(F.col("tok") != "")
    h = toks.withColumn("th", hash60(F.col("tok")))
    votes = h.groupBy(id_col).agg(*[
        F.sum(F.when(F.expr(f"(th >> {b}) & 1") == 1, 1).otherwise(-1))
        .alias(f"__v{b}") for b in range(64)])
    sketch = None
    for b in range(64):
        # bit 63 is the sign bit: its signed contribution is -(2^63),
        # so the plain sum reproduces the two's-complement bit pattern
        weight = (1 << b) if b < 63 else -(1 << 63)
        term = F.when(F.col(f"__v{b}") > 0,
                      F.lit(weight).cast("long")).otherwise(F.lit(0))
        sketch = term if sketch is None else sketch + term
    return votes.select(F.col(id_col), sketch.alias("simhash"))


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           max_hamming: int = 3,
                           max_bucket_size: int | None = 10000) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) ≤ max_hamming via
    pigeonhole banding (the Manku/Jain/Sarma WWW'07 simhash design): the
    64-bit sketch splits into ``max_hamming + 1`` contiguous blocks, and a
    pair within the hamming budget differs in at most ``max_hamming``
    blocks, so it must agree on ≥1 whole block — candidates come from a
    block-value **equi-join** with EXACT recall, never a quadratic
    hamming-predicate join. Returns (id_a, id_b, hamming).

    Tradeoff: a larger budget → more, narrower blocks → more accidental
    block collisions (false candidates ~ n²/2^width per band). Keep
    ``max_hamming`` small (≤3 with 64-bit sketches → 16-bit blocks, the
    WWW'07 operating point); ``max_bucket_size`` additionally drops
    degenerate hot blocks (same guard + rationale as
    ``minhash_near_dup_pairs``)."""
    sh = simhash_bits(df, id_col, text_col)
    return hamming_near_dup_pairs(sh, id_col, "simhash",
                                  max_hamming=max_hamming,
                                  max_bucket_size=max_bucket_size)


def hamming_near_dup_pairs(sketches: DataFrame, id_col: str,
                           sketch_col: str, max_hamming: int = 3,
                           max_bucket_size: int | None = 10000) -> DataFrame:
    """Pigeonhole-banded hamming pairing over ANY 64-bit sketch relation
    ``(id, sketch)`` — the shared engine behind ``simhash_near_dup_
    pairs`` (text) and ``multimodal.media_near_dup_pairs`` (perceptual
    image hashes). Same exact-recall guarantee, same hot-bucket cap,
    same (id_a, id_b, hamming) contract."""
    nbands = max_hamming + 1
    width = 64 // nbands
    # band b covers bits [64 - (b+1)*width - rem, 64 - b*width); band 0
    # absorbs the 64 % nbands remainder bits (shift amounts are Python
    # ints, computed per band here)
    rem = 64 % nbands
    band_cols = []
    for b in range(nbands):
        if b == 0:
            bits = F.shiftrightunsigned(F.col(sketch_col),
                                        64 - width - rem)
        else:
            bits = (F.shiftrightunsigned(F.col(sketch_col),
                                         64 - (b + 1) * width - rem)
                    .bitwiseAND(F.lit((1 << width) - 1)))
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  bits.alias("bits")))
    band_structs = F.array(*band_cols)
    buckets = (sketches.select(F.col(id_col), F.col(sketch_col),
                               F.explode(band_structs).alias("bb"))
               .select(id_col, sketch_col, F.col("bb.band").alias("band"),
                       F.col("bb.bits").alias("bits")))
    pairs = _bucket_pairs(
        buckets, id_col, sketch_col, ["band", "bits"], max_bucket_size,
        lambda sa, sb: F.bit_count(F.col(sa).bitwiseXOR(F.col(sb)))
        .alias("hamming"))
    return pairs.filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (LSH verification stage)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        shingle_k: int = 3,
                        min_jaccard: float = 0.5,
                        max_shingle_df: int | None = None,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over distinct word shingles. Returns
    (id_a, id_b, jaccard) ≥ min_jaccard.

    Two admission tiers (r12):

    - ``candidates=None`` (default): every pair sharing ≥1 shingle is
      measured — fully exact, appropriate when the operator IS the
      verification stage on an already-bucketed relation, but the
      shared-shingle join shuffles one row per (pair, shared shingle)
      (SHUFFLE.md measured 367 rows/row scanned — the network bill at
      100 TB).
    - ``candidates=<(id_a, id_b) relation>``: exact Jaccard is computed
      ONLY for the given pairs, via per-doc distinct-shingle ARRAYS
      (one map-side-combined row per doc) + ``array_intersect`` — no
      pair×shingle fan-out at all. Recall is then the candidate tier's
      (e.g. ``minhash_near_dup_pairs``' banding); the measures are
      still exact. This is the corpus-scale shape.

    ``max_shingle_df`` (exact tier only) is the hot-shingle knob:
    shingles occurring in more than that many documents are excluded
    from the *join* (a boilerplate shingle shared by 10⁶ docs alone
    creates 10¹² candidate rows) while per-doc sizes still count every
    shingle — so the reported Jaccard is a LOWER bound for pairs whose
    overlap survives only through hot shingles, and exact otherwise."""
    if candidates is not None:
        shared = _candidate_shingle_counts(df, id_col, text_col,
                                           shingle_k, candidates)
    else:
        shared = _shared_shingle_counts(df, id_col, text_col, shingle_k,
                                        max_shingle_df)
    return (shared
            .withColumn("jaccard",
                        F.col("shared")
                        / (F.col("n_a") + F.col("n_b") - F.col("shared")))
            .filter(F.col("jaccard") >= min_jaccard)
            .select("id_a", "id_b", "jaccard"))


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      shingle_k: int = 3,
                      min_containment: float = 0.5,
                      max_shingle_df: int | None = None,
                      admission: str = "exact",
                      small_max_shingles: int = 16) -> DataFrame:
    """ASYMMETRIC near-dup detection: exact shingle containment
    ``|A∩B| / |A|`` per direction (Broder 1997's second resemblance
    measure). Jaccard misses the quote/inclusion case — a short document
    wholly embedded in a much longer one has tiny Jaccard but
    containment 1.0 on the short side — which is exactly the
    quote-farm / aggregator-page shape corpus dedup needs to see.

    Admission tiers:

    - ``admission="exact"`` (default): every shingle-sharing pair is
      measured via the shared-shingle join — fully exact, but the
      pair×shingle fan-out is the network bill at scale (SHUFFLE.md
      measured 260 shuffle rows per row scanned at sf0.1).
    - ``admission="ensemble"`` — the corpus-scale tier (r13),
      SIZE-PARTITIONED in the spirit of LSH Ensemble (Zhu et al.,
      VLDB'16: partition sets by size; admit with a per-partition
      strategy because one symmetric Jaccard threshold cannot see
      one-sided containment):

      * documents whose distinct-shingle set has ≤ ``small_max_shingles``
        entries — precisely the regime where containment ≥ t can mean
        only 3-4 shared shingles, invisible to ANY bounded sketch —
        build an exact posting-list index. Being small is what makes
        this affordable: the index holds ≤ S rows per small doc
        (size-gated broadcast via ``util.maybe_broadcast``), and every
        document probes it MAP-SIDE from its shingle array, so the
        corpus never shuffles for this leg. Recall for any pair whose
        smaller side is ≤ S is COMBINATORIAL (every shared shingle is
        an index hit), which covers the planted-quote shape exactly.
      * pairs with BOTH sides > S share ≥ t·S shingles by definition,
        so they are sketchable: the existing banded MinHash admission
        (``minhash_near_dup_pairs``' defaults) supplies them. Its recall is
        the banding's — ratio-skewed large×large pairs fade with
        J = t/(1 + n_b/n_a), the documented trade (raise
        ``small_max_shingles`` to widen the exact partition).

      Measures are STILL exact (per-doc shingle arrays +
      ``array_intersect``) — admission decides only which pairs get
      measured. Measured at sf0.001/0.01/0.1: the ensemble pair set is
      IDENTICAL to the exact tier's (every pair the symmetric banding
      drops has a ≤16-shingle side).

    ``max_shingle_df`` (exact tier only) is the hot-shingle knob —
    see ``ngram_jaccard_pairs``.
    Returns ``(id_a, id_b, containment_a, containment_b)`` — the share
    of a's (resp. b's) shingles present in the other — for pairs where
    EITHER direction ≥ ``min_containment``.
    """
    if admission == "ensemble":
        candidates = _ensemble_candidates(df, id_col, text_col, shingle_k,
                                          small_max_shingles)
        shared = _candidate_shingle_counts(df, id_col, text_col,
                                           shingle_k, candidates)
    else:
        shared = _shared_shingle_counts(df, id_col, text_col, shingle_k,
                                        max_shingle_df)
    return (shared
            .withColumn("containment_a", F.col("shared") / F.col("n_a"))
            .withColumn("containment_b", F.col("shared") / F.col("n_b"))
            .filter((F.col("containment_a") >= min_containment)
                    | (F.col("containment_b") >= min_containment))
            .select("id_a", "id_b", "containment_a", "containment_b"))


def _ensemble_candidates(df: DataFrame, id_col: str, text_col: str,
                         shingle_k: int, small_max: int) -> DataFrame:
    """Size-partitioned candidate pairs for ``containment_pairs``
    (``admission="ensemble"``): the union of (a) every pair sharing a
    shingle with a ≤ ``small_max``-shingle document — via a broadcast
    posting-list index over the SMALL partition only, probed map-side
    by each document's shingle array — and (b) the banded MinHash
    cohabitant pairs for the large×large regime. Canonical (id_a <
    id_b), distinct.

    Shuffle budget: the small index is |small docs| × ≤ small_max
    rows (size-gated broadcast); the probe explode happens inside the
    scan stage; duplicate (pair, shingle) hits collapse in the
    distinct's map-side partial aggregate before they ever shuffle."""
    from zacks_estimates_financial_statements_spark.util import maybe_broadcast

    sets = _doc_shingle_sets(df, id_col, text_col, shingle_k)
    small_idx = (sets.filter(F.col("__n") <= small_max)
                 .select(F.col(id_col).alias("__sid"),
                         F.explode("__sh").alias("__shingle")))
    probe = sets.select(F.col(id_col),
                        F.explode("__sh").alias("__shingle"))
    small_pairs = (probe
                   .join(maybe_broadcast(small_idx, est_bytes_per_row=64),
                         "__shingle")
                   .filter(F.col(id_col) != F.col("__sid"))
                   .select(F.least(id_col, "__sid").alias("id_a"),
                           F.greatest(id_col, "__sid").alias("id_b")))
    mh_pairs = minhash_near_dup_pairs(df, id_col, text_col,
                                      shingle_k=shingle_k
                                      ).select("id_a", "id_b")
    return small_pairs.union(mh_pairs).distinct()


def _doc_shingle_sets(df: DataFrame, id_col: str, text_col: str,
                      shingle_k: int) -> DataFrame:
    """``(id, __sh array<string>, __n)`` — each addressable document's
    DISTINCT word-shingle set as one array row. The array builds in a
    plain projection (words materialized first — the lambda-CSE rule)
    and collapses to one row per id in a single map-side-combined
    aggregation; duplicate/conflicting copies of one id contribute the
    UNION of their shingles (≡ the ``(id, shingle) DISTINCT`` the SQL
    twins state), NULL ids are unaddressable, shingle-less docs (NULL
    text) drop."""
    words = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.split(T.normalize_text(F.col(text_col)), " ").alias("__words"))
    return (words.select(
        F.col(id_col),
        F.array_distinct(T.shingles_from_words(F.col("__words"),
                                               shingle_k)).alias("__sh"))
        .groupBy(id_col)
        .agg(F.array_distinct(F.flatten(F.collect_list("__sh")))
             .alias("__sh"))
        .withColumn("__n", F.size("__sh"))
        .filter(F.col("__n") >= 1))


def _candidate_shingle_counts(df: DataFrame, id_col: str, text_col: str,
                              shingle_k: int,
                              candidates: DataFrame) -> DataFrame:
    """(id_a, id_b, shared, n_a, n_b) for the GIVEN candidate pairs —
    the verify-only core of the exact measures (r12).

    Plan shape: per-doc distinct-shingle ARRAYS are built as a plain
    projection and collapse to one row per id in a single
    map-side-combined aggregation (duplicate-id contract: verbatim and
    conflicting copies of one id contribute the UNION of their
    shingles, exactly as the exact tier's ``(id, shingle) DISTINCT``
    does); the candidate relation then joins the array relation twice
    and ``shared`` is an ``array_intersect`` size — the shuffle carries
    ~1 row/doc + the candidate pairs, never a pair×shingle fan-out.
    Arrays hold distinct shingle STRINGS (not hashes): exact, and
    bit-comparable with the SQL twins. Pairs sharing no shingle drop,
    mirroring the exact tier (which never generates them)."""
    sets = _doc_shingle_sets(df, id_col, text_col, shingle_k)
    a = sets.select(F.col(id_col).alias("id_a"),
                    F.col("__sh").alias("__sa"), F.col("__n").alias("n_a"))
    b = sets.select(F.col(id_col).alias("id_b"),
                    F.col("__sh").alias("__sb"), F.col("__n").alias("n_b"))
    return (candidates.select("id_a", "id_b").distinct()
            .join(a, "id_a").join(b, "id_b")
            .withColumn("shared",
                        F.size(F.array_intersect("__sa", "__sb")))
            .filter(F.col("shared") >= 1)
            .select("id_a", "id_b", "shared", "n_a", "n_b"))


def _shared_shingle_counts(df: DataFrame, id_col: str, text_col: str,
                           shingle_k: int,
                           max_shingle_df: int | None) -> DataFrame:
    """(id_a, id_b, shared, n_a, n_b) for documents sharing ≥ 1 distinct
    word shingle — the common core of the exact verify stages.

    Plan shape (r12): the per-doc distinct shingle set is built as the
    same grouped-array relation ``_candidate_shingle_counts`` uses —
    ``array_distinct`` in a projection, then ONE map-side-combined
    ``groupBy(id)`` union (≈1 shuffled row/doc) that also yields ``n``
    — and only THEN explodes into the per-shingle cohabitant groupBy.
    r11's shape shuffled the exploded shingle relation three times
    (``distinct``, a ``count() OVER (PARTITION BY id)`` window, the
    shingle groupBy: 367 shuffle rows/row scanned, SHUFFLE.md); this
    one shuffles it once (+1 row/doc), same rows out, and the window's
    unsplittable hot-id task is gone with it."""
    sets = _doc_shingle_sets(df, id_col, text_col, shingle_k)
    sh = sets.select(F.col(id_col), F.col("__n").alias("n"),
                     F.explode("__sh").alias("shingle"))
    # group cohabitants per shingle and explode the i<j pairs (instead of
    # a shared-shingle self-join, whose two aliased sides would each
    # re-run the regex-heavy shingle lineage — no exchange reuse); the
    # document-frequency cap becomes a free group-size filter
    grouped = (sh.groupBy("shingle")
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col(id_col).alias("id"), F.col("n")))).alias("m"))
               .filter(F.size("m") >= 2))
    if max_shingle_df is not None:
        grouped = grouped.filter(F.size("m") <= max_shingle_df)
    # index-pair explode (the _bucket_pairs r13/r14 shape, via
    # _pair_indices): member fields resolve per pair row via element_at
    # — no struct-packing transform lambda, no O(m) slice copy per
    # anchor row. With a finite max_shingle_df the j-generator runs in
    # codegen (the downstream projection/filter/partial-aggregate are
    # pure codegen, so pair rows are absorbed into the spillable agg
    # hash map inside the span — nothing buffers); uncapped callers
    # stream a hot shingle's C(m,2) pairs through the lazy flatMap.
    idx, _ = _pair_indices(grouped, max_shingle_df)
    shared = (idx.select(
                  F.element_at(F.col("m"), F.col("i"))["id"].alias("id_a"),
                  F.element_at(F.col("m"), F.col("j"))["id"].alias("id_b"),
                  F.element_at(F.col("m"), F.col("i"))["n"].alias("n_a"),
                  F.element_at(F.col("m"), F.col("j"))["n"].alias("n_b"))
              .filter(F.col("id_a") != F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count("*").alias("shared"),
                   F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b")))
    return shared


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, w: int = 4,
                        parallelism: int | None = None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every character ``k``-gram of the normalized text,
    slide a ``w``-wide window over the hash sequence, keep each window's
    minimum; the distinct selected hashes are the document's fingerprint
    set — robust to insertions/reordering in ways the whole-document md5
    (``functions.text.fingerprint``) is not.

    Returns (id, fp) rows, one per distinct selected hash.

    Plan shape: winnowing is per-document, so the whole selection runs
    inside one projection — gram-hash array, sliding ``array_min``,
    per-doc ``array_distinct``, explode — with ZERO shuffles. The
    earlier formulation exploded one row per k-gram and ran a
    partition-sort window plus a global distinct: that shuffled ~28
    bytes per corpus character twice; this shuffles nothing (measured
    1.2 → 0.85 s at sf0.1 at equal parallelism). A no-shuffle plan
    inherits the scan's split count, which at real scale is plentiful
    (``maxPartitionBytes``); for few-split inputs pass ``parallelism``
    to round-robin the raw text first — shuffling 1 byte per character
    beats shuffling the exploded gram relation ~28:1. Docs shorter than
    ``k + w - 1`` normalized chars contribute no full window, matching
    the SQL twin exactly.
    """
    # NULL-id rows are excluded: "distinct hashes PER DOC" needs an id
    # — the zero-shuffle per-row distinct would otherwise disagree with
    # any grouped twin, which merges all NULL ids into one group
    norm = (df.filter(F.col(id_col).isNotNull())
            .select(F.col(id_col),
                    T.normalize_text(F.col(text_col)).alias("__norm"))
            # Spark's sequence(1, 0) counts DOWN — guard short docs out
            # before generating gram positions
            .filter(F.length("__norm") >= k))
    if parallelism:
        norm = norm.repartition(parallelism)
    # materialize the normalized text as a column before the lambdas
    # (lambda-CSE trap); the gram hash is the shared md5-based hash60 so
    # the fingerprint values are identical to the exploded formulation
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.length("__norm") - (k - 1)),
        lambda i: hash60(F.substring(F.col("__norm"), i, F.lit(k))))
    withg = norm.select(F.col(id_col), gram_hashes.alias("__gh"))
    n_windows = F.size("__gh") - (w - 1)
    window_mins = F.when(
        n_windows >= 1,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(F.col("__gh"), i, w))))
    ).otherwise(F.array().cast("array<bigint>"))
    return withg.select(F.col(id_col), F.explode(window_mins).alias("fp"))


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                             min_cosine: float = 0.9,
                             bucket_bits: int = 0,
                             max_bucket_size: int | None = 10000) -> DataFrame:
    """Pairs with cosine ≥ threshold. ``bucket_bits`` > 0 buckets by the
    sign-bit sketch (axis-aligned SRP LSH) — the scale path, generating
    pairs within each bucket group so the corpus scans once (a bucket
    self-join would scan it per side) and a degenerate hot bucket is
    dropped by the ``max_bucket_size`` guard. 0 = exact all-pairs
    crossJoin (baseline/verification).

    NULL contract: rows with a NULL id or NULL vector are unscorable /
    unaddressable and are excluded (the similarity-kit ``_scorable``
    contract; oracle twins carry the matching WHERE)."""
    base = (df.filter(F.col(id_col).isNotNull()
                      & F.col(vec_col).isNotNull())
            .select(F.col(id_col), F.col(vec_col)))
    if bucket_bits > 0:
        # payload = (vector, hoisted norm): the scorer then does ONE
        # dot per pair instead of dot + 2 norms (3x the multiply-adds
        # and generated code for per-row-invariant values)
        buckets = base.withColumn("__bucket",
                                  V.sign_bits_fast(f"`{vec_col}`",
                                                   bucket_bits))
        buckets = buckets.select(
            F.col(id_col), F.col("__bucket"),
            F.struct(F.col(vec_col).alias("v"),
                     V.norm_fast(f"`{vec_col}`").alias("n")).alias("__p"))
        pairs = _bucket_pairs(
            buckets, id_col, "__p", ["__bucket"], max_bucket_size,
            lambda pa, pb: V.cosine_prenorm(
                f"{pa}.v", f"{pb}.v", f"{pa}.n", f"{pb}.n")
            .alias("cosine"))
        return pairs.filter(F.col("cosine") >= min_cosine)
    a, b = base.alias("a"), base.alias("b")
    cos = V.cosine_fast(f"a.`{vec_col}`", f"b.`{vec_col}`")
    return (a.crossJoin(b)
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    cos.alias("cosine"))
            .filter(F.col("cosine") >= min_cosine))


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   n_centroids: int = 16, min_cosine: float = 0.9,
                   max_cluster_size: int | None = 10000) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al.,
    arXiv:2303.09540): cluster the embedding corpus with the IVF coarse
    quantizer, then drop documents that have a near-identical semantic
    twin INSIDE their cluster — the tier of the dedup ladder above
    MinHash/SimHash (surface forms differ, meaning does not; e.g.
    templated rewrites, translations run back through the source).

    Policy: within each cluster, every i<j pair with
    ``cosine >= min_cosine`` marks the LARGER id a duplicate of the
    smaller; a document survives iff it has no smaller-id twin. This
    keeps exactly the minimal elements of each near-dup neighborhood —
    deterministic, order-free, and closed-form in SQL for the oracle
    twin (the paper keeps the lowest-centroid-distance member instead;
    the keep-first-by-id convention matches every other dedup operator
    here).

    Returns one row per SCORABLE input (NULL-id/NULL-vector rows are
    excluded via ``ivf_assign``'s contract — an unscorable row cannot
    be clustered): ``(id, centroid_id, dup_of, keep)`` with ``dup_of``
    = the smallest qualifying twin id (NULL when kept).

    Plan shape: centroid assignment is a broadcast scoring pass (the
    corpus never shuffles for it — ``similarity.ivf_assign``), pair
    generation is the shared ``_bucket_pairs`` grouped i<j explode keyed
    on ``centroid_id`` — ONE shuffle, and by construction no
    cross-cluster pair is ever generated. Intra-cluster work is
    quadratic in cluster size: size ``n_centroids`` like the SemDeDup
    paper (~sqrt(N) clusters) so the expected cluster stays bounded,
    and ``max_cluster_size`` drops degenerate hot clusters (their
    members are near-always exact/fingerprint dups — route those
    through ``exact_dup_groups``). The centroids are the deterministic
    lowest-id seeds, so the result is oracle-reproducible.
    """
    from zacks_estimates_financial_statements_spark.operators.similarity \
        import ivf_assign

    assign, _ = ivf_assign(df, n_centroids, id_col, vec_col)
    clustered = df.select(F.col(id_col), F.col(vec_col)).join(assign, id_col)
    # payload = (vector, hoisted norm): one dot per pair, norms per row
    withn = clustered.select(
        F.col(id_col), F.col("centroid_id"),
        F.struct(F.col(vec_col).alias("v"),
                 V.norm_fast(f"`{vec_col}`").alias("n")).alias("__p"))
    pairs = _bucket_pairs(
        withn, id_col, "__p", ["centroid_id"], max_cluster_size,
        lambda pa, pb: V.cosine_prenorm(
            f"{pa}.v", f"{pb}.v", f"{pa}.n", f"{pb}.n").alias("cosine"))
    drops = (pairs.filter(F.col("cosine") >= min_cosine)
             .groupBy("id_b").agg(F.min("id_a").alias("dup_of"))
             .withColumnRenamed("id_b", id_col))
    return (clustered.select(F.col(id_col), F.col("centroid_id"))
            .join(drops, id_col, "left")
            .withColumn("keep", F.col("dup_of").isNull()))


def paragraph_dedup(df: DataFrame, id_col: str,
                    text_col: str) -> DataFrame:
    """CCNet-style paragraph-level deduplication (Wenzek et al.,
    arXiv:1911.00359 §3.1): drop every paragraph whose normalized
    fingerprint already occurred earlier in the corpus (first
    occurrence by (doc id, paragraph index) wins — boilerplate like
    cookie banners and share-bars repeats across pages and vanishes
    from all but one), then reassemble each document from its surviving
    paragraphs in order.

    Returns one row per input document: ``clean_text`` (kept paragraphs
    joined with newlines, '' when everything was dropped), ``n_paras``
    (non-empty paragraphs before dedup) and ``n_kept``.

    Duplicate-id contract (r9/r10 contract fuzz): reassembly is per
    LOGICAL doc — physical copies of one id merge their paragraph
    multisets (stats and clean_text aggregate by id; every physical
    row carries the merged panel via the join-back). Two DIVERGENT
    copies put two different paragraphs at one (id, pidx) address, so
    the reassembly sort breaks the pidx tie with the paragraph text
    itself (``array_sort`` over struct(pidx, para)) — deterministic
    and twin-mirrorable; true version resolution is ``exact_dup_groups`` /
    the writer's last-write-wins upstream.

    Plan shape: paragraphs explode once (``posexplode_outer`` — plain
    explode would re-inline the split into an inferred pushed filter),
    winners come from ``groupBy(fingerprint).min(struct(id, idx))`` —
    map-side combine collapses the million-fold repeated boilerplate
    fingerprint to one row per task, the skew-safe shape a
    ``partitionBy(fingerprint)`` keep-first window does NOT have (AQE
    splits skewed joins, not windows) — and survivors rejoin on the
    well-distributed composite (fingerprint, id, idx) key. One final
    per-document reassembly aggregation. Everything is corpus-linear
    with three narrow shuffles.
    """
    # NULL-id contract (r10 high-rate fuzz): an unaddressable row can
    # neither OWN a fingerprint (Spark's min-struct sorts NULL ids
    # FIRST, SQL's row_number sorts them LAST — a NULL-id winner
    # absorbs paragraphs from real docs on one engine only) nor keep
    # one (the (fp, id, pidx) equi-join never matches a NULL id), so
    # NULL-id rows are excluded from the paragraph relation entirely;
    # their output rows remain (n_paras 0, clean_text '').
    paras = (df.filter(F.col(id_col).isNotNull())
             .select(F.col(id_col),
                     F.posexplode_outer(F.split(F.col(text_col), r"\n+"))
                     .alias("__pidx", "__para"))
             .filter(F.col("__para").isNotNull()
                     & (F.trim(F.col("__para")) != ""))
             .withColumn("__fp", T.fingerprint(F.col("__para"))))
    winners = (paras.groupBy("__fp")
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("__pidx").alias("p")))
                    .alias("__w"))
               .select("__fp", F.col("__w.i").alias(id_col),
                       F.col("__w.p").alias("__pidx")))
    kept = paras.join(winners, ["__fp", id_col, "__pidx"], "left_semi")
    stats = paras.groupBy(id_col).agg(F.count("*").alias("n_paras"))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.count("*").alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("__pidx", "__para"))),
                            lambda s: s["__para"]), "\n")
                    .alias("clean_text")))
    return (df.select(id_col)
            .join(stats, id_col, "left")
            .join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_paras", F.lit(0)).cast("bigint")
                    .alias("n_paras"),
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                    .alias("n_kept")))


def tfidf_cosine_pairs(df: DataFrame, id_col: str, text_col: str,
                       min_cosine: float = 0.5,
                       max_token_df: int | None = 1000) -> DataFrame:
    """Sparse TF-IDF cosine document pairs — "related documents"
    WITHOUT embeddings: docs become L2-normalized tf·idf bags and pairs
    score by sparse dot product, computed only for documents sharing at
    least one token (Salton's vector space model; the lexical sibling
    of ``embedding_near_dup``).

    Same scale shape as the shared-shingle verify stages: per-token
    cohabitant groups emit anchor-first i<j pair partials (one lineage,
    no self-join re-evaluation), so work is Σ_token df(token)² — which
    is why ``max_token_df`` matters: stopwords with corpus-wide df
    would alone be quadratic, and excluding them from the JOIN (their
    weight stays in the norms) only LOWERS reported cosines — the
    standard df-pruning trade, exact for pairs whose overlap is in
    informative tokens. IDF uses the smooth ``ln((N+1)/(df+1)) + 1``
    (same family as ``curation.token_frequencies``); all products are
    round-6 → decimal-summed, so an ANSI twin matches exactly.

    Returns ``(id_a, id_b, cosine)`` ≥ ``min_cosine``.
    """
    words = F.filter(F.split(simple_lower(F.col(text_col)), r"[^a-z0-9_]+"),
                     lambda x: x != "")
    toks = (df.select(F.col(id_col), F.explode(words).alias("token"))
            .groupBy(id_col, "token").agg(F.count("*").alias("tf")))
    n_docs = (df.agg(F.count("*").cast("double").alias("__n"))
              .withColumn("__k", F.lit(1)))
    dfreq = (toks.groupBy("token").agg(F.count("*").alias("dfreq"))
             .withColumn("__k", F.lit(1))
             .join(F.broadcast(n_docs), "__k")
             .withColumn("idf", F.round(
                 F.log((F.col("__n") + 1.0) / (F.col("dfreq") + 1.0))
                 + 1.0, 6))
             .select("token", "dfreq", "idf"))
    dec = "decimal(38,6)"
    weighted = (toks.join(dfreq, "token")
                .withColumn("w", F.round(F.col("tf") * F.col("idf"), 6)))
    # per-doc squared norm via window: one lineage, like the shingle
    # verify stages (a separate sizes aggregate would re-derive toks)
    wnorm = Window.partitionBy(id_col)
    weighted = weighted.withColumn(
        "n2", F.sum(F.round(F.col("w") * F.col("w"), 6).cast(dec))
        .over(wnorm))
    joinable = weighted if max_token_df is None else \
        weighted.filter(F.col("dfreq") <= max_token_df)
    grouped = (joinable.groupBy("token")
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col(id_col).alias("id"), F.col("w").alias("w"),
                   F.col("n2").alias("n2")))).alias("m"))
               .filter(F.size("m") >= 2))
    # same index-pair shape as _bucket_pairs (via _pair_indices):
    # member fields resolve via element_at and the per-pair product
    # round(w_a * w_b, 6) evaluates in a codegen projection — no
    # struct-packing lambda, no O(m) slice copy. A finite max_token_df
    # bounds every cohabitant group (dfreq IS the group size), so the
    # j-generator runs in codegen and pair rows are absorbed straight
    # into the partial aggregate inside the whole-stage span.
    idx, _ = _pair_indices(grouped, max_token_df)
    dots = (idx.select(
                F.element_at(F.col("m"), F.col("i"))["id"].alias("id_a"),
                F.element_at(F.col("m"), F.col("j"))["id"].alias("id_b"),
                F.round(F.element_at(F.col("m"), F.col("i"))["w"]
                        * F.element_at(F.col("m"), F.col("j"))["w"], 6)
                .cast(dec).alias("p"),
                F.element_at(F.col("m"), F.col("i"))["n2"].alias("n2_a"),
                F.element_at(F.col("m"), F.col("j"))["n2"].alias("n2_b"))
            .filter(F.col("id_a") != F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum("p").alias("dot"),
                 F.max("n2_a").alias("n2_a"),
                 F.max("n2_b").alias("n2_b")))
    cos = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("n2_a").cast("double"))
           * F.sqrt(F.col("n2_b").cast("double"))), 6)
    return (dots.withColumn("cosine", cos)
            .filter(F.col("cosine") >= min_cosine)
            .select("id_a", "id_b", "cosine"))


def cdc_chunks(df: DataFrame, id_col: str, text_col: str,
               w: int = 3, avg_words: int = 16) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC idea, word
    granularity): cut each document's token stream AFTER any word
    whose trailing ``w``-gram hashes to ``0 mod avg_words`` — chunk
    boundaries depend on local CONTENT, not absolute offsets, so an
    insertion early in a document shifts only the chunk it lands in
    and chunk-level dedup (group the ``chunk_hash``) still matches
    every later chunk. Fixed-offset chunking (``chunk_tokens``) loses
    all alignment after the edit; this is the dedup-stable
    alternative.

    Output: ``(id, chunk_idx, start_word, n_words, chunk_hash,
    chunk_text)`` — 1-based word spans over the normalized token
    stream, expected chunk length ``avg_words`` (geometric), md5
    chunk hashes. Documents shorter than ``w`` words yield one chunk.

    Simplification vs FastCDC: no min/max chunk bounds — those make
    the boundary decision sequential (a cut suppresses nearby cuts);
    the unbounded form keeps every boundary decision independent.

    Plan shape (the ``repeated_spans`` + ``drop_repeated_spans``
    pair's): trailing grams build as a per-doc array and posexplode
    to rows, so the md5 cut test runs in CODEGEN over the exploded
    relation — NOT inside an interpreted per-element lambda (the
    first formulation hashed inside ``F.filter`` and paid the
    documented HOF tax: 37.7 s → ~2 s at sf0.1). Cut rows are
    ~1/avg_words of tokens; spans derive from them with one
    per-doc lag/row_number window; chunk texts assemble via the
    disjoint-interval membership join (a position matches exactly
    one chunk — zero amplification) + one ordered-reassembly
    groupBy. Everything shuffled is token-linear or smaller.

    Duplicate-id contract (r9 contract fuzz, tightened r10): output is
    KEYED — one row per ``(id, chunk_idx)``. Verbatim physical copies
    of one id collapse free by construction: boundary rows dedup in
    the existing ``bounds`` distinct, and the doubled ``(pos, word)``
    membership rows dedup via ``collect_set`` inside the reassembly
    shuffle the plan already pays. CONFLICTING copies (same id,
    different text) resolve to the min-md5(token-string) version
    BEFORE chunking — a keyed chunk relation cannot represent two
    versions' boundary sets, and merging them (the r9 behavior)
    produced incoherent cross-version cut positions. The winner
    filter costs one narrow map-side-combined ``groupBy(id).min(fp)``
    plus an id-equi join of the token relation — the same id-keyed
    exchange class the membership join already pays.
    """
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    if avg_words < 2:
        raise ValueError(f"avg_words must be >= 2, got {avg_words}")
    toks = (df.select(F.col(id_col), T.word_tokens(F.col(text_col))
                      .alias("__t0"))
            .select(F.col(id_col),
                    F.filter("__t0", lambda x: x != "").alias("__t"))
            .filter(F.size("__t") >= 1))
    fp = F.md5(F.encode(F.concat_ws(" ", "__t"), "UTF-8"))
    toks = toks.withColumn("__fp", fp)
    # PERSIST the tokenized relation (r13): the winner resolution
    # consumes it twice (groupBy + join-back) and three downstream
    # lineages (gram cuts, the n-sized bound rows, the position
    # explode) each replay it — Catalyst does not reuse a subtree
    # across differently-shaped exchanges, so the corpus tokenize +
    # full-text md5 ran ~6x per execution (6 scans in the committed
    # plan). One MEMORY_AND_DISK cache of (id, tokens, fp) replaces
    # all replays; released when the caller's ``cache_scope`` exits.
    toks = persist(toks)
    winner = toks.groupBy(id_col).agg(F.min("__fp").alias("__fp"))
    toks = toks.join(winner, [id_col, "__fp"]).drop("__fp")
    n = F.size("__t")
    grams = toks.select(
        F.col(id_col),
        F.posexplode(F.when(n >= w, F.transform(
            F.sequence(F.lit(w), n),
            lambda e: F.array_join(F.slice("__t", e - (w - 1), w),
                                   " ")))
            .otherwise(F.array().cast("array<string>")))
        .alias("__i", "__g"))
    cuts = (grams.filter((hash60(F.col("__g")) % avg_words) == 0)
            .select(F.col(id_col), (F.col("__i") + w).alias("__e")))
    bounds = (cuts.unionByName(toks.select(F.col(id_col),
                                           n.alias("__e")))
              .distinct())
    ws = Window.partitionBy(id_col).orderBy("__e")
    spans = bounds.select(
        F.col(id_col).alias("__sid"),
        (F.coalesce(F.lag("__e").over(ws), F.lit(0)) + 1).alias("__s"),
        F.col("__e"),
        F.row_number().over(ws).cast("bigint").alias("chunk_idx"))
    pos = (toks.select(F.col(id_col),
                       F.posexplode("__t").alias("__p0", "__w"))
           .select(F.col(id_col), (F.col("__p0") + 1).alias("__p"),
                   "__w"))
    memb = pos.join(spans, (F.col(id_col) == F.col("__sid"))
                    & (F.col("__p") >= F.col("__s"))
                    & (F.col("__p") <= F.col("__e")))
    agg = (memb.groupBy(id_col, "chunk_idx", "__s", "__e")
           .agg(F.concat_ws(" ", F.transform(
               F.array_sort(F.collect_set(F.struct("__p", "__w"))),
               lambda s: s["__w"])).alias("chunk_text")))
    return agg.select(
        F.col(id_col), "chunk_idx",
        F.col("__s").cast("bigint").alias("start_word"),
        (F.col("__e") - F.col("__s") + 1).cast("bigint")
        .alias("n_words"),
        F.md5("chunk_text").alias("chunk_hash"), "chunk_text")
