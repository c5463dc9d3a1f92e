"""Similarity search over embedding columns (``array<float>``).

Two tiers, matching the standard large-scale ANN architecture:

- ``topk_bruteforce`` — exact cosine top-k: broadcast the (small) query
  set against the corpus; one pass, no shuffle of the corpus, window
  top-k per query. The correctness baseline and the verifier for the
  approximate tier.
- ``topk_lsh`` — sign-bit (axis-aligned SRP) bucketing: corpus and
  queries hash to ``bucket_bits``-bit sketches; candidates come from
  buckets within ``probe_hamming`` of the query's bucket (multi-probe),
  then exact cosine re-ranks. At 100 TB the bucket equi-join replaces the
  cross product; recall is tunable via bits/probes.
- ``ivf_assign`` / ``topk_ivf`` — IVF-style coarse quantization with
  deterministic seed centroids: corpus vectors are assigned to their
  nearest of C centroids (sampled deterministically by id), queries probe
  the ``nprobe`` nearest centroids' inverted lists.

All math is native Spark (higher-order functions, see
``functions.vectors``); nothing leaves the JVM.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions import vectors as V
from zacks_estimates_financial_statements_spark.util import dec6, persist


def _scorable(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """NULL contract (round-8 contract fuzz): a row with a NULL id or a
    NULL vector is unaddressable/unscorable — every similarity operator
    excludes such rows at entry instead of propagating NULL cosines into
    rank windows (where Spark and SQL engines disagree on NULL order)
    or NULL ids into deterministic tie-breaks. Oracle twins state the
    same ``WHERE id IS NOT NULL AND vec IS NOT NULL``."""
    return df.filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())


def _unambiguous(df: DataFrame, id_col: str) -> DataFrame:
    """Selection-grade sub-relation (r12): ids carrying more than one
    physical row are excluded from deterministic seed/centroid
    SELECTION — `ORDER BY id LIMIT k` over a multi-version id cuts
    mid-group and which copy survives is engine scan order (the corpus
    side of every operator keeps all rows). Twins mirror with
    `count(*) OVER (PARTITION BY id) = 1`.

    This is the REFERENCE form (and the twins' shape) for a consumer
    that needs the whole deduplicated relation: dup-id set via
    ``groupBy(id).count()`` on the id column ALONE (8-byte shuffle
    rows, map-side combined, AQE-skew splittable) + broadcast LEFT ANTI
    back against the full relation — the vectors never shuffle, unlike
    the banned ``Window.partitionBy(id)`` shape. Every CURRENT consumer
    is a ``ORDER BY id LIMIT k`` selection, which uses
    ``unique_seed_prefix`` below instead (r13): it skips even the
    id-only scan by deduplicating a bounded sorted prefix."""
    dup = (df.select(id_col).groupBy(id_col).count()
           .filter(F.col("count") > 1).select(id_col))
    return df.join(F.broadcast(dup), on=id_col, how="left_anti")


#: sorted-prefix size for ``unique_seed_prefix``: must exceed the
#: largest seed ``limit`` (n_codes=256 is the registry max) by enough
#: unique ids to absorb the duplicate-id dial (5%) and the one excluded
#: boundary id. 4096 rows is a single TakeOrdered batch — trivial at
#: any scale — while leaving >15x slack over the largest k.
SEED_PREFIX = 4096

#: exhaustion guard denominator (r14, VERDICT r13 #4/#9): the prefix
#: equivalence argument needs >= k unique unambiguous ids inside the
#: prefix, and the documented consumer bound is k <= prefetch/16. k is
#: not visible here (consumers apply their own ``limit``), so a FULL
#: prefix must keep at least prefetch/8 survivors — 2x the k bound —
#: or the operator aborts loudly (raise_error) instead of silently
#: feeding a consumer a truncated seed set (512 survivors at the
#: default prefetch). A short (< prefetch) prefix saw the WHOLE
#: relation — the dedup is then exact however few survive, so it
#: never aborts.
SEED_PREFIX_SURVIVOR_DIV = 8


def unique_seed_prefix(df: DataFrame, id_col: str,
                       prefetch: int = SEED_PREFIX) -> DataFrame:
    """The first ≤``prefetch`` rows of ``df`` by ``id_col`` whose id is
    globally unambiguous — the selection-grade relation every
    ``ORDER BY id LIMIT k`` seed/anchor consumer (k ≤ 256) draws from.

    Equivalent to ``_unambiguous(df).orderBy(id).limit(prefetch)`` for
    every consumer with ``k`` well under ``prefetch``, but WITHOUT
    touching the corpus beyond a bounded sorted prefix (r13, third
    iteration of this plan):

    - r12 shipped ``Window.partitionBy(id)`` over the full relation —
      shuffles every vector, one unsplittable task per hot id (banned
      shape, r12 verdict #2);
    - the first r13 form was groupBy(id) dup-set + broadcast LEFT ANTI —
      scale-right (vectors never shuffle) but pays an extra corpus scan
      plus a broadcast-build barrier PER QUERY, measured +0.4-0.8 s on
      every embeddings-family query at sf0.1;
    - this form: ``orderBy(id).limit(prefetch)`` compiles to
      TakeOrderedAndProject (map-side top-``prefetch`` per task — no
      exchange, splittable, hot ids cost nothing), and the dup test
      runs on the ≤``prefetch``-row prefix where it is exact: the sort
      is by id, so EVERY copy of an id strictly below the prefix
      maximum lands inside the prefix. The boundary (maximum) id is the
      one id whose copies could lie beyond — it is excluded unless the
      prefix exhausted the relation (``__nr < prefetch`` — strictly
      fewer rows than requested proves exhaustion; an exactly-full
      prefix conservatively drops its boundary id, which can only
      matter when fewer than k unique ids precede it: impossible with
      prefetch/k ≥ 16).

    Windows here are prefix-bounded (≤``prefetch`` rows above a Limit),
    not corpus windows — the plan-audit-whitelisted shape. Twins keep
    the full-corpus ``count(*) OVER (PARTITION BY id) = 1`` form; the
    contract-fuzz batteries (duplicate/conflict dials + row permutation)
    attest the equivalence empirically at all three scales."""
    pre = df.orderBy(F.col(id_col)).limit(prefetch)
    w_id = Window.partitionBy(id_col)
    w_all = Window.partitionBy()
    marked = (pre.withColumn("__nv", F.count("*").over(w_id))
              .withColumn("__mx", F.max(id_col).over(w_all))
              .withColumn("__nr", F.count("*").over(w_all)))
    survives = ((F.col("__nv") == 1) &
                ((F.col(id_col) < F.col("__mx"))
                 | (F.col("__nr") < F.lit(prefetch))))
    # exhaustion guard: count the survivors in one more prefix-bounded
    # window pass (<= prefetch rows, same single partition the __mx/
    # __nr windows already use) and abort loudly when a FULL prefix
    # keeps fewer than prefetch/SEED_PREFIX_SURVIVOR_DIV unique ids —
    # pathological duplicate concentration would otherwise silently
    # hand a consumer a seed set the full-corpus dedup would not pick.
    min_surv = max(1, prefetch // SEED_PREFIX_SURVIVOR_DIV)
    marked = marked.withColumn(
        "__ns", F.sum(survives.cast("int")).over(w_all))
    guard_ok = ((F.col("__nr") < F.lit(prefetch))
                | (F.col("__ns") >= F.lit(min_surv)))
    return (marked
            .filter(F.when(guard_ok, survives).otherwise(F.raise_error(
                F.lit("unique_seed_prefix exhausted: a full "
                      f"{prefetch}-row prefix kept fewer than "
                      f"{min_surv} unique ids — duplicate "
                      "concentration violates the prefix-dedup "
                      "equivalence bound; dedup the corpus (or raise "
                      "prefetch) before seed selection"))
                .cast("boolean")))
            .drop("__nv", "__mx", "__nr", "__ns"))


def _rank_topk(scored: DataFrame, query_id: str, k: int,
               order_cols: list) -> DataFrame:
    w = Window.partitionBy(query_id).orderBy(*order_cols)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def topk_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    query_vec_col: str = "query_vec") -> DataFrame:
    """Exact cosine top-k per query: (query_id, vec_id, cosine, rank).
    Ties break deterministically by id. NULL-id/NULL-vector rows are
    excluded on both sides (see ``_scorable``)."""
    corpus = (_scorable(corpus, id_col, vec_col)
              .withColumn("__cn", V.norm_fast(f"`{vec_col}`")))
    queries = (_scorable(queries, query_id_col, query_vec_col)
               .withColumn("__qn", V.norm_fast(f"`{query_vec_col}`")))
    joined = corpus.crossJoin(F.broadcast(queries))
    cos = V.cosine_prenorm(f"`{vec_col}`", f"`{query_vec_col}`",
                           "__cn", "__qn")
    scored = joined.select(F.col(query_id_col), F.col(id_col),
                           cos.alias("cosine"))
    return _rank_topk(scored, query_id_col, k,
                      [F.desc("cosine"), F.col(id_col)])


def _hamming_ball_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks within ``radius`` bit flips of 0 over ``bits`` bits —
    the multi-probe neighborhood (C(bits, ≤radius) masks; e.g. 7 for
    6 bits/r=1, 22 for r=2)."""
    from itertools import combinations

    masks = []
    for r in range(radius + 1):
        for pos in combinations(range(bits), r):
            m = 0
            for p in pos:
                m |= 1 << p
            masks.append(m)
    return masks


def topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 10,
             bucket_bits: int = 8, probe_hamming: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             query_vec_col: str = "query_vec") -> DataFrame:
    """Approximate top-k: sign-bit buckets + multi-probe + exact re-rank.
    Same output shape as ``topk_bruteforce`` (fewer rows if a bucket has
    < k candidates).

    Plan shape: each query expands to its hamming-ball of probe buckets
    (explode over the C(bits, ≤r) XOR masks), then an **equi-join** on
    the bucket key against the corpus. A ``hamming(a, b) <= r`` join
    predicate would be non-equi → nested-loop corpus × queries, which is
    the all-pairs scale-killer; the probe expansion trades a constant
    per-query fan-out for a hash join the corpus side never loops over.
    """
    c = (_scorable(corpus, id_col, vec_col)
         .withColumn("__bucket", V.sign_bits_fast(f"`{vec_col}`",
                                                   bucket_bits))
         .withColumn("__cn", V.norm_fast(f"`{vec_col}`")))
    q = (_scorable(queries, query_id_col, query_vec_col)
         .withColumn("__qbucket",
                     V.sign_bits_fast(f"`{query_vec_col}`",
                                      bucket_bits))
         .withColumn("__qn", V.norm_fast(f"`{query_vec_col}`")))
    masks = F.array(*[F.lit(m) for m in
                      _hamming_ball_masks(bucket_bits, probe_hamming)])
    probes = (q.select(F.col(query_id_col), F.col(query_vec_col),
                       F.col("__qn"),
                       F.explode(masks).alias("__mask"),
                       F.col("__qbucket"))
              .withColumn("__bucket",
                          F.col("__qbucket").bitwiseXOR(F.col("__mask")))
              .drop("__qbucket", "__mask"))
    # the probe side ships to every executor: the corpus never shuffles
    cand = c.join(F.broadcast(probes), "__bucket")
    cos = V.cosine_prenorm(f"`{vec_col}`", f"`{query_vec_col}`",
                           "__cn", "__qn")
    scored = cand.select(F.col(query_id_col), F.col(id_col),
                         cos.alias("cosine"))
    return _rank_topk(scored, query_id_col, k,
                      [F.desc("cosine"), F.col(id_col)])


def _nearest_centroid(corpus: DataFrame, centroids: DataFrame,
                      id_col: str, vec_col: str) -> DataFrame:
    """(id, centroid_id): each vector's nearest centroid by cosine
    (centroids broadcast; corpus never shuffles for the scoring)."""
    withn = corpus.withColumn("__cn", V.norm_fast(f"`{vec_col}`"))
    cents = centroids.withColumn("__ctn", V.norm_fast("centroid_vec"))
    scored = withn.crossJoin(F.broadcast(cents)).select(
        F.col(id_col), F.col("centroid_id"),
        V.cosine_prenorm(f"`{vec_col}`", "centroid_vec",
                         "__cn", "__ctn").alias("__cos"))
    w = Window.partitionBy(id_col).orderBy(F.desc("__cos"),
                                           F.col("centroid_id"))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(id_col, "centroid_id"))


def ivf_assign(corpus: DataFrame, n_centroids: int = 16,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization. The centroids are the ``n_centroids``
    lowest-id vectors (deterministic, oracle-reproducible); each vector
    goes to its nearest one. Returns
    (assignments(id, centroid_id), centroids(centroid_id, centroid_vec)).
    NULL-id/NULL-vector rows are excluded (see ``_scorable``) — a NULL
    id would otherwise be picked as a centroid first under Spark's
    NULLS-FIRST ascending sort."""
    corpus = _scorable(corpus, id_col, vec_col)
    centroids = (unique_seed_prefix(corpus, id_col)
                 .orderBy(F.col(id_col)).limit(n_centroids)
                 .select(F.col(id_col).alias("centroid_id"),
                         F.col(vec_col).alias("centroid_vec")))
    assign = _nearest_centroid(corpus, centroids, id_col, vec_col)
    return assign, centroids


@dataclass
class IvfIndex:
    """A built IVF index — the build/probe split of a real ANN service.

    ``assigned`` is the corpus already joined with its centroid
    assignments and **persisted**: the expensive part of ``topk_ivf``
    (scoring every corpus vector against every centroid, the row_number
    window shuffle, and the assignment join) runs ONCE at build time;
    every subsequent query batch starts from the cached, pre-partitioned
    lists instead of replaying the corpus lineage per call. ``centroids``
    is localized to a literal relation (n_centroids rows), so the probe
    side never touches the corpus lineage either.

    ``assigned`` is persisted through ``util.persist``, so the caller's
    ``cache_scope()`` drops the index when it exits."""

    assigned: DataFrame    # corpus columns + centroid_id, persisted
    centroids: DataFrame   # (centroid_id, centroid_vec), literal relation
    id_col: str
    vec_col: str


def ivf_build(corpus: DataFrame, n_centroids: int = 16,
              id_col: str = "vec_id", vec_col: str = "embedding") -> IvfIndex:
    """Build (and materialize) the IVF index once, for reuse across
    query batches via ``topk_ivf(..., index=...)``. MEMORY_AND_DISK: at
    100 TB the inverted lists spill rather than evict."""
    assign, centroids = ivf_assign(corpus, n_centroids, id_col, vec_col)
    assigned = persist(corpus.join(assign, id_col))
    assigned.count()   # materialize eagerly: build cost is paid here
    centroids = corpus.sparkSession.createDataFrame(
        centroids.collect(), schema=centroids.schema)
    return IvfIndex(assigned=assigned, centroids=centroids,
                    id_col=id_col, vec_col=vec_col)


def topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             query_vec_col: str = "query_vec",
             broadcast_queries: bool = True,
             index: IvfIndex | None = None) -> DataFrame:
    """Approximate top-k via IVF: probe the ``nprobe`` closest centroids'
    lists, exact cosine re-rank within them. ``broadcast_queries``
    controls whether the probe set ships to executors or shuffles (set
    False for huge batch query sets — the centroid-list join stays an
    equi-join either way).

    Pass a prebuilt ``index`` (``ivf_build``) when running repeated query
    batches: without it each call re-derives the corpus assignments —
    two corpus shuffles per batch that the persisted index pays once."""
    if index is not None:
        corpus_assigned, centroids = index.assigned, index.centroids
        id_col, vec_col = index.id_col, index.vec_col
    else:
        assign, centroids = ivf_assign(corpus, n_centroids, id_col,
                                       vec_col)
        corpus_assigned = corpus.join(assign, id_col)
    queries = _scorable(queries, query_id_col, query_vec_col)
    qc = queries.crossJoin(F.broadcast(centroids)).select(
        F.col(query_id_col), F.col(query_vec_col), F.col("centroid_id"),
        V.cosine_fast(f"`{query_vec_col}`", "centroid_vec").alias("__cos"))
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("__cos"),
                                                  F.col("centroid_id"))
    probes = (qc.withColumn("__rn", F.row_number().over(wq))
              .filter(F.col("__rn") <= nprobe)
              .withColumn("__qn", V.norm_fast(f"`{query_vec_col}`"))
              .select(query_id_col, query_vec_col, "__qn", "centroid_id"))
    cand = (corpus_assigned
            .withColumn("__cn", V.norm_fast(f"`{vec_col}`"))
            .join(F.broadcast(probes) if broadcast_queries else probes,
                  "centroid_id"))
    scored = cand.select(
        F.col(query_id_col), F.col(id_col),
        V.cosine_prenorm(f"`{vec_col}`", f"`{query_vec_col}`",
                         "__cn", "__qn").alias("cosine"))
    return _rank_topk(scored, query_id_col, k,
                      [F.desc("cosine"), F.col(id_col)])


def quantize_embeddings(df: DataFrame, id_col: str,
                        vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4× storage /
    bandwidth reduction step before shipping an embedding corpus to an
    ANN index (FAISS SQ8-style). ``scale = max|v| / 127``; each
    component maps to ``floor(v / scale + 0.5)``, which by construction
    lands in [-127, 127] (no clip branch needed), and the zero vector
    maps to all-zeros with scale 0.

    Everything folds left-to-right (the DuckDB-matching order) in ONE
    projection — zero shuffles at any corpus size. The per-row work
    runs as guarded FLAT expressions (whole-stage codegen; the exact
    higher-order fold is the off-dims ELSE branch — the ``V.*_fast``
    pattern, r13). The scale is materialized as a column before the
    quantize/mae expressions reference it: Catalyst does not eliminate
    common subexpressions through lambda functions (the 25×-measured
    CLAUDE.md rule), and even flat, one materialized scale beats 64
    inlined abs-max chains. Returns ``(id, scale, qvec, mae)`` with scale and the
    mean-abs reconstruction error rounded to 6 digits for cross-engine
    hashing. NULL-id/NULL-vector rows are excluded (``_scorable``) —
    there is no int8 representation of an absent vector.
    """
    df = _scorable(df, id_col, vec_col)
    d = V.EMB_DIMS
    # flat (codegen) forms, guarded on size(vec) = EMB_DIMS with the
    # exact fold as the ELSE branch (the V.*_fast pattern): each fold
    # here runs per CORPUS row, the interpreted-HOF tax class. The
    # nested GREATEST chain replays the fold's exact pairwise order
    # (max is order-sensitive for NaN/-0.0 ties only through pairing).
    am = "0.0D"
    for i in range(d):
        am = f"GREATEST({am}, ABS(CAST(`{vec_col}`[{i}] AS DOUBLE)))"
    am_fold = (f"aggregate(`{vec_col}`, 0.0D, (acc, v) -> "
               "greatest(acc, ABS(CAST(v AS DOUBLE))))")
    absmax = F.expr(f"CASE WHEN size(`{vec_col}`) = {d} THEN {am} "
                    f"ELSE {am_fold} END")
    staged = df.select(F.col(id_col), F.col(vec_col).alias("__v"),
                       (absmax / 127.0).alias("__scale"))
    q_flat = "array({})".format(", ".join(
        f"CAST(FLOOR(CAST(__v[{i}] AS DOUBLE) / __scale + 0.5D) AS INT)"
        for i in range(d)))
    zero_flat = "array({})".format(", ".join(["0"] * d))
    q_fold = ("transform(__v, x -> "
              "CAST(FLOOR(CAST(x AS DOUBLE) / __scale + 0.5D) AS INT))")
    zero_fold = "transform(__v, x -> 0)"
    qvec = F.expr(
        f"CASE WHEN size(__v) = {d} THEN "
        f"(CASE WHEN __scale = 0.0D THEN {zero_flat} ELSE {q_flat} END) "
        f"ELSE (CASE WHEN __scale = 0.0D THEN {zero_fold} "
        f"ELSE {q_fold} END) END")
    staged = staged.withColumn("qvec", qvec)
    mae_flat = "0.0D + " + " + ".join(
        f"ABS(CAST(__v[{i}] AS DOUBLE) - CAST(qvec[{i}] AS DOUBLE)"
        " * __scale)" for i in range(d))
    mae_fold = ("aggregate(zip_with(__v, qvec, (v, q) -> "
                "ABS(CAST(v AS DOUBLE) - CAST(q AS DOUBLE) * __scale)), "
                "0.0D, (acc, x) -> acc + x)")
    mae = F.expr(
        f"(CASE WHEN size(__v) = {d} AND size(qvec) = {d} "
        f"THEN {mae_flat} ELSE {mae_fold} END) / size(__v)")
    return staged.select(
        F.col(id_col), F.round("__scale", 6).alias("scale"),
        F.col("qvec"), F.round(mae, 6).alias("mae"))


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid, TPAMI 2011): the memory-
# compression ANN tier next to IVF. A d-dim float vector becomes M
# one-byte codes (here M sub-quantizers of ks centroids each): 64 floats
# = 256 B shrink to M bytes, which is what lets a 100 TB embedding
# corpus hold its index in executor memory. Queries score candidates
# with an ADC (asymmetric distance computation) lookup table — M × ks
# precomputed sub-distances per query — instead of touching the floats.
# ---------------------------------------------------------------------------


def pq_codebook(corpus: DataFrame, dims: int, n_subspaces: int = 4,
                n_codes: int = 16, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Train the PQ codebooks: ``(subspace, code_id, code_vec)``.

    The codes are the sub-vectors of the ``n_codes`` smallest-id corpus
    vectors (deterministic — the same convention as ``ivf_assign``, and
    what makes the codebook oracle-checkable). The relation is bounded by
    ``n_subspaces × n_codes`` rows and is localized to a literal
    relation, so downstream encode/probe joins broadcast it without
    replaying corpus lineage."""
    if dims % n_subspaces:
        raise ValueError(f"dims={dims} not divisible by {n_subspaces}")
    sub = dims // n_subspaces
    w = Window.orderBy(F.col(id_col))
    seeds = (unique_seed_prefix(_scorable(corpus, id_col, vec_col), id_col)
             .orderBy(F.col(id_col)).limit(n_codes)
             .withColumn("code_id",
                         (F.row_number().over(w) - 1).cast("int")))
    parts = F.array(*[
        F.struct(F.lit(m).cast("int").alias("subspace"),
                 F.slice(F.col(vec_col), m * sub + 1, sub)
                 .alias("code_vec"))
        for m in range(n_subspaces)])
    book = (seeds.select("code_id", F.explode(parts).alias("p"))
            .select(F.col("p.subspace").alias("subspace"), "code_id",
                    F.col("p.code_vec").alias("code_vec")))
    return corpus.sparkSession.createDataFrame(
        book.collect(), schema="subspace int, code_id int, "
                               "code_vec array<float>")


def pq_encode(corpus: DataFrame, codebook: DataFrame, dims: int,
              n_subspaces: int = 4, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode each vector as ``codes array<int>`` (its nearest code per
    subspace, squared-L2, ties to the smaller code id — argmin over a
    broadcast codebook; the corpus never shuffles for the scoring, one
    (id, subspace)-keyed min-aggregation builds the code arrays)."""
    sub = dims // n_subspaces
    sliced = corpus.select(
        F.col(id_col), F.explode(F.array(*[
            F.struct(F.lit(m).cast("int").alias("subspace"),
                     F.slice(F.col(vec_col), m * sub + 1, sub).alias("v"))
            for m in range(n_subspaces)])).alias("p")
    ).select(id_col, "p.subspace", "p.v")
    d = F.round(V.sq_l2_fast("v", "code_vec", sub), 6)
    best = (sliced.join(F.broadcast(codebook), "subspace")
            .groupBy(id_col, "subspace")
            .agg(F.min(F.struct(d.alias("d"),
                                F.col("code_id").alias("c"))).alias("m")))
    return (best.groupBy(id_col)
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct("subspace", F.col("m.c").alias("c")))),
                lambda s: s["c"]).alias("codes")))


def topk_pq_adc(corpus: DataFrame, queries: DataFrame, k: int = 10,
                dims: int = 64, n_subspaces: int = 4, n_codes: int = 16,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id",
                query_vec_col: str = "query_vec",
                codebook: DataFrame | None = None) -> DataFrame:
    """Approximate top-k by PQ/ADC: corpus vectors are scored through
    their codes against per-query lookup tables, never through their
    floats. Table build is queries × codebook (Q·M·ks rows, broadcast);
    the probe explodes codes to (vec, subspace) rows, equi-joins the
    broadcast tables, and ONE (query, vec) sum-aggregation (sub-
    distances decimal-summed — exactly reproducible) feeds the per-query
    top-k window. Output: (query_id, vec_id, adc_dist, rank) — smallest
    approximate distance first, ties to the smaller vec id."""
    book = codebook if codebook is not None else pq_codebook(
        corpus, dims, n_subspaces, n_codes, id_col, vec_col)
    codes = pq_encode(corpus, book, dims, n_subspaces, id_col, vec_col)
    sub = dims // n_subspaces
    qparts = queries.select(
        F.col(query_id_col), F.explode(F.array(*[
            F.struct(F.lit(m).cast("int").alias("subspace"),
                     F.slice(F.col(query_vec_col), m * sub + 1, sub)
                     .alias("qv"))
            for m in range(n_subspaces)])).alias("p")
    ).select(query_id_col, "p.subspace", "p.qv")
    tables = (qparts.join(F.broadcast(book), "subspace")
              .select(query_id_col, "subspace", "code_id",
                      # sq_l2 of user vectors can square to inf /
                      # beyond the decimal domain (r12 extreme dial)
                      dec6(F.round(V.sq_l2_fast("qv", "code_vec",
                                                sub), 6))
                      .alias("__d")))
    probe = (codes.select(id_col,
                          F.posexplode("codes").alias("__m", "__c"))
             .withColumn("subspace", F.col("__m").cast("int"))
             .withColumn("code_id", F.col("__c")))
    scored = (probe.join(F.broadcast(tables), ["subspace", "code_id"])
              .groupBy(query_id_col, id_col)
              .agg(F.round(F.sum("__d").cast("double"), 6)
                   .alias("adc_dist")))
    return _rank_topk(scored, query_id_col, k,
                      [F.asc("adc_dist"), F.col(id_col)])


def mine_hard_negatives(corpus: DataFrame, anchors: DataFrame,
                        positives: DataFrame, n_negatives: int = 5,
                        candidate_k: int = 50,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        anchor_id_col: str = "anchor_id",
                        anchor_vec_col: str = "anchor_vec",
                        method: str = "brute") -> DataFrame:
    """Hard-negative mining for retrieval/embedding training (the
    in-batch-negatives upgrade DPR/SBERT pipelines run offline): for
    each anchor, the top similar corpus items that are NOT its known
    positives — the negatives that actually move a contrastive loss.

    ``positives`` is ``(anchor_id, vec_id)``. Candidates come from the
    existing ANN tiers (``method``: ``brute`` — exact, the
    oracle-checkable default — or ``lsh``/``ivf`` for the 100 TB path,
    same knobs as ``topk_*``); the positive set drops out via one
    LEFT ANTI join (the anchor's own id counts as a positive), and a
    per-anchor window keeps the ``n_negatives`` hardest. Candidate
    generation is the only corpus-scale stage — everything after runs
    on ≤ anchors × candidate_k rows.

    Output: ``(anchor_id, vec_id, cosine, neg_rank)``.
    """
    q = anchors.select(F.col(anchor_id_col).alias("query_id"),
                       F.col(anchor_vec_col).alias("query_vec"))
    if method == "brute":
        cand = topk_bruteforce(corpus, q, k=candidate_k, id_col=id_col,
                               vec_col=vec_col)
    elif method == "lsh":
        cand = topk_lsh(corpus, q, k=candidate_k, id_col=id_col,
                        vec_col=vec_col)
    elif method == "ivf":
        cand = topk_ivf(corpus, q, k=candidate_k, id_col=id_col,
                        vec_col=vec_col)
    else:
        raise ValueError(f"method must be brute|lsh|ivf, got {method!r}")
    pos = (positives.select(F.col(anchor_id_col).alias("query_id"),
                            F.col(id_col))
           .unionByName(anchors.select(
               F.col(anchor_id_col).alias("query_id"),
               F.col(anchor_id_col).alias(id_col))))
    neg = cand.join(pos, ["query_id", id_col], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.col(id_col))
    return (neg.withColumn("neg_rank", F.row_number().over(w))
            .filter(F.col("neg_rank") <= n_negatives)
            .select(F.col("query_id").alias(anchor_id_col), id_col,
                    "cosine", "neg_rank"))


#: key of the random-projection sign hash
RP_SEED = "rproj"


def rp_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 Achlioptas sign matrix (in_dim × out_dim) from
    the repo's keyed-md5 hash: ``sign(i, j) = +1 if
    md5_60bit(f"{RP_SEED}|{i}|{j}") is even else −1``. A pure function of
    its key, so the projection is reproducible across runs, engines
    and partitionings, and the SQL twin embeds the identical literals
    (generated by THIS function — the matrices cannot drift)."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [[1 if h60(f"{RP_SEED}|{i}|{j}") % 2 == 0 else -1
             for j in range(out_dim)] for i in range(in_dim)]


def random_projection(df: DataFrame, id_col: str, vec_col: str,
                      in_dim: int, out_dim: int = 16) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a
    deterministic ±1 sign matrix (Achlioptas, JCSS 2003: the database-
    friendly sparse projection — E[|y_a − y_b|²] = |x_a − x_b|², so
    pairwise distances survive within (1±ε) at out_dim = O(ln n/ε²)):
    ``y_j = Σ_i x_i · s_ij / √out_dim``. The cheap front-end that
    shrinks 64-float embeddings to 16 before the quadratic-ish stages
    (IVF build, brute re-rank) — 4× less shuffle bandwidth and ADC
    table width for a bounded recall loss.

    The sign matrix is a CONSTANT (``rp_signs``) compiled into flat
    ``±try_element_at`` expression chains — one whole-stage-codegen
    projection, ZERO shuffles, no higher-order functions in the
    per-row hot path (the simhash flat-sum lesson), no UDF. Each
    output component folds left-to-right in input order, matching the
    SQL twin's association exactly; components round to 6 digits.

    The expression is generated as SQL TEXT and parsed in ONE
    ``selectExpr`` round-trip: building the same in_dim × out_dim tree
    with Column operators costs one py4j call per term — measured
    7.5 s of driver-side chatter for 64×16 vs 1.0 s for the string
    form (the plan, the executed code, and the results are
    bit-identical; verified via exceptAll in both directions).

    ANSI safety: ``try_element_at`` NULLs (rather than throws) on
    vectors shorter than ``in_dim``, so one malformed row yields NULL
    ``rp_*`` outputs for that row instead of failing the job — the
    same contract as the DuckDB twin's out-of-range list index.

    Output: ``(id, rp_0 … rp_{out_dim−1})`` as double columns.
    """
    if not (1 <= out_dim <= in_dim):
        raise ValueError(
            f"need 1 <= out_dim <= in_dim, got {out_dim} vs {in_dim}")
    signs = rp_signs(in_dim, out_dim)
    inv_root = 1.0 / (out_dim ** 0.5)
    pre = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__vd"))
    exprs = [id_col]
    for j in range(out_dim):
        terms = "".join(
            ("+" if signs[i][j] > 0 else "-")
            + f"try_element_at(__vd,{i + 1})" for i in range(in_dim))
        exprs.append(f"round(({terms}) * CAST({inv_root!r} AS DOUBLE),"
                     f" 6) AS rp_{j}")
    return pre.selectExpr(*exprs)


def margin_topk(corpus: DataFrame, queries: DataFrame, k: int = 4,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id",
                query_vec_col: str = "query_vec",
                fwd: DataFrame | None = None,
                bwd: DataFrame | None = None) -> DataFrame:
    """Margin-based nearest-neighbor scoring (Artetxe & Schwenk,
    ACL 2019 ratio margin — the bitext-mining / cross-corpus alignment
    criterion): for every forward top-``k`` pair ``(x, y)``,

        ``margin = cos(x,y) / ((Σ_fwd cos/k + Σ_bwd cos/k) / 2)``

    where the denominators are the mean cosine of ``x``'s forward
    top-``k`` into the corpus and ``y``'s backward top-``k`` into the
    query set. The margin normalizes away hubness: a pair scores high
    only if the two are much closer to EACH OTHER than to their
    respective neighborhoods — raw-cosine thresholds can't separate
    true translations/alignments from hub vectors that are close to
    everything.

    Output: ``(query_id, vec_id, cosine, margin, rank)`` — ``rank``
    is the margin-descending rank per query (ties by id); mining =
    keep ``rank = 1 AND margin > threshold`` (threshold is corpus-
    dependent, left to the caller).

    ``fwd``/``bwd`` override the candidate tiers with precomputed
    top-k relations in ``topk_bruteforce``'s output shape — at
    corpus×corpus scale feed both directions from ``topk_ivf``/
    ``topk_lsh`` (bucket equi-joins) instead of the exact default,
    same contract as ``mine_hard_negatives``. The margin arithmetic
    itself adds only two vocabulary-sized groupBys over the top-k
    relations (≤ k rows per key) and two equi-joins — nothing
    corpus-quadratic.

    Determinism: per-pair cosines round to 6; neighborhood sums stay
    EXACT ``decimal(38,6)`` and the ``/k`` folds into the margin
    division (``margin = cos·2k / (S_fwd + S_bwd)``); only the final
    margin rounds to 6. The earlier recipe rounded each neighborhood
    MEAN to 6 first — but a 6-digit decimal sum divided by k=4 puts
    the 7th digit on a .5 boundary with probability ~1/4, and the two
    engines resolve that half-case through different arithmetic
    (Spark: BigDecimal of the exact binary double; DuckDB: a scaled
    multiply) — a systematic cross-engine flip first caught by the
    sf0.1 attestation (one row at 2e-6). Deferring the division
    leaves one double rounding, identical on both sides.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if fwd is None:
        fwd = topk_bruteforce(corpus, queries, k=k, id_col=id_col,
                              vec_col=vec_col, query_id_col=query_id_col,
                              query_vec_col=query_vec_col)
    if bwd is None:
        bwd = topk_bruteforce(
            queries.select(F.col(query_id_col).alias(id_col),
                           F.col(query_vec_col).alias(vec_col)),
            corpus.select(F.col(id_col).alias(query_id_col),
                          F.col(vec_col).alias(query_vec_col)),
            k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col)

    def nbhd(df, key_col, out_key, out_col):
        return (df.groupBy(F.col(key_col).alias(out_key))
                .agg(F.sum(F.round(F.col("cosine"), 6)
                           .cast("decimal(38,6)")).alias(out_col)))

    sfwd = nbhd(fwd, query_id_col, query_id_col, "__sfwd")
    sbwd = nbhd(bwd, query_id_col, id_col, "__sbwd")
    pairs = fwd.select(query_id_col, id_col,
                       F.round(F.col("cosine"), 6).alias("cosine"))
    scored = (pairs.join(sfwd, query_id_col).join(sbwd, id_col)
              .select(query_id_col, id_col, "cosine",
                      F.round((F.col("cosine") * F.lit(float(2 * k)))
                              / (F.col("__sfwd") + F.col("__sbwd"))
                              .cast("double"), 6).alias("margin")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("margin"), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w)))
