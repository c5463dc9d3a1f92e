"""Distributed connected components for dedup-cluster resolution.

The dedup operators (operators/dedup.py) emit *pairs* — MinHash/SimHash/
n-gram/embedding candidates. Turning pairs into a dedup decision needs
one more step: group transitively-linked documents into clusters and
keep one canonical representative per cluster. That is connected
components over the similarity graph.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — *Connected Components in MapReduce
and Beyond*, ACM SoCC'14). Each round is two shuffles of edge-sized
data (a groupBy computing per-node neighborhood minima and a join
re-emitting edges toward those minima); the edge set converges to a
forest of stars in O(log² n) rounds on adversarial graphs and 2-3
rounds on near-clique dedup graphs. No reference equivalent (the
reference has no graph surface) — extension scope like the rest of the
document-shaped operators.

Scale notes:

- Never materializes a neighborhood as an array: minima come from a
  partial-aggregating ``groupBy.min`` and edges are re-emitted by a
  join, so per-row state is O(1) regardless of node degree (a 10⁷-way
  hub never builds a 10⁷-element list).
- Every round ends in a checkpoint. This is not optional hygiene: one
  round references its input 4-5 times (symmetric union, neighborhood
  aggregation, re-emission join), so without lineage truncation the
  logical plan grows ~5× PER ROUND — exponential plan size that stalls
  the analyzer long before any data is large (observed locally by
  round ~6). ``localCheckpoint`` (cache-backed) is the default; pass
  ``reliable=True`` after ``spark.sparkContext.setCheckpointDir`` for
  fault-tolerant checkpoints on a real cluster, where a lost executor
  invalidates a local checkpoint.
- Convergence is a (count, order-insensitive checksum) signature read
  off the checkpointed set. The edge set only ever rewires toward
  smaller minima, so a stable signature means a fixed point (star
  forest).
- Driver-latency shape (r12): checkpoints are LAZY — each round's
  signature action materializes that round's checkpoint as a side
  effect, so a round is ONE driver-synchronous job, not two (BENCH_r11
  measured the iterative composites job-launch-latency-bound on a
  slow VM). And a graph whose canonical edge set is small
  (``max_local_edges``, default 50k) resolves by driver union-find
  instead of the distributed loop — label-identical, bounded by the
  gate, and the common case for near-dup graphs, which are tiny next
  to the corpus that produced them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _canon_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges oriented small→large, self-loops dropped."""
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")) \
        .filter(F.col("__s") != F.col("__d"))
    return (e.select(F.least("__s", "__d").alias("u"),
                     F.greatest("__s", "__d").alias("v"))
            .distinct())


def _symmetric(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = _symmetric(e)
    m = (sym.groupBy("u")
         .agg(F.min("v").alias("__mn"))
         .select("u", F.least("__mn", F.col("u")).alias("m")))
    return (sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v")))


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small and connect all smaller neighbors (and
    the center) to the minimum neighbor."""
    # e is already small→large: center is v (the large end), neighbor u.
    m = e.groupBy("v").agg(F.min("u").alias("m"))
    linked = (e.join(m, "v")
              .select(F.col("m").alias("u"), F.col("u").alias("v")))
    centers = m.select(F.col("m").alias("u"), F.col("v"))
    return (linked.union(centers)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v")))


def _signature(e: DataFrame) -> tuple[int, int]:
    """(count, order-insensitive checksum) in ONE action — also the
    materializing action for the persisted edge set."""
    # decimal(38,0) accumulator: a bigint sum of xxhash64 values
    # overflows under ANSI mode.
    row = e.agg(
        F.count("*").alias("c"),
        F.coalesce(F.sum(F.xxhash64(F.col("u").cast("string"),
                                    F.col("v").cast("string"))
                         .cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("h")).collect()[0]
    return int(row["c"]), int(row["h"])


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25,
                         reliable: bool = False,
                         max_local_edges: int = 50_000) -> DataFrame:
    """Component label (minimum member id) per node appearing in ``edges``.

    Returns ``(node, component)``. Isolated nodes never appear in an
    edge list; callers wanting labels for a full vertex set should
    left-join and ``coalesce(component, node)`` (see
    ``resolve_duplicate_clusters``).

    Ids may be any orderable type; the minimum id of a component is its
    label, matching the keep-first-by-id convention of
    ``dedup.exact_dup_groups``. (For the driver tier below, Python
    tuple/str comparison agrees with Spark's ordering on the id types
    that reach this operator — integers exactly, strings because UTF-8
    byte order preserves codepoint order.)

    Execution tiers (r12): the canonical edge set's first signature
    action returns its size; ``≤ max_local_edges`` resolves by driver
    union-find — O(E α(E)) in microseconds, zero iterative jobs, the
    collect bounded by the gate — which is the common case for
    near-dup graphs (edges ≪ corpus). Larger graphs run the
    large-star/small-star loop, one driver-synchronous job per round
    (the signature materializes that round's lazy checkpoint).
    """
    def mat(df: DataFrame) -> DataFrame:
        # Lazy lineage truncation every round (see module docstring);
        # the signature action right after is what materializes it.
        return df.checkpoint(eager=False) if reliable \
            else df.localCheckpoint(eager=False)

    e = mat(_canon_edges(edges, src, dst))
    sig = _signature(e)
    if sig[0] <= max_local_edges:
        return _local_components(e)
    for _ in range(max_iter):
        nxt = mat(_small_star(_large_star(e)))
        nxt_sig = _signature(nxt)
        e, prev, sig = nxt, sig, nxt_sig
        if nxt_sig == prev:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    # At the fixed point the edge set is a forest of stars rooted at
    # each component's minimum: every (u, v) has u == component(v), and
    # roots label themselves. The star-forest invariant makes `members`
    # already distinct (one edge per non-root node) and disjoint from
    # `roots` (a root never appears as v), so only the root projection
    # needs deduping — no distinct over the whole union.
    members = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node")).distinct() \
        .withColumn("component", F.col("node"))
    return members.union(roots)


def _local_components(e: DataFrame) -> DataFrame:
    """Driver union-find over a small (size-gated) canonical edge set —
    label-identical to the distributed loop: component = min member id.
    Output schema matches (``node``, ``component``) with the edge id
    type preserved."""
    rows = e.collect()   # bounded by the max_local_edges gate

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:    # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r["u"], r["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        cur = comp_min.get(root)
        if cur is None or node < cur:
            comp_min[root] = node
    out = [(node, comp_min[find(node)]) for node in parent]
    id_type = e.schema["u"].dataType
    spark = e.sparkSession
    from pyspark.sql.types import StructField, StructType
    schema = StructType([StructField("node", id_type),
                         StructField("component", id_type)])
    return spark.createDataFrame(out, schema)


def resolve_duplicate_clusters(df: DataFrame, pairs: DataFrame,
                               id_col: str, src: str = "id_a",
                               dst: str = "id_b") -> DataFrame:
    """Attach dedup-cluster labels to a corpus: every row gains

    - ``component``    — min id of its transitive near-dup cluster
      (its own id when it has no near-dups),
    - ``cluster_size`` — member count of that cluster,
    - ``keep``         — true for the one canonical row per cluster.

    ``df.filter("keep")`` is then the deduplicated corpus. The corpus
    is scanned ONCE: cluster sizes are aggregated from the label set
    (bounded by nodes that appear in a pair — tiny next to the corpus;
    rows absent from it are singletons of size 1), so the only
    corpus-wide operation is the final left join on the unique id,
    whose small side AQE broadcasts. The iterative part never touches
    the corpus at all, only the edge set.

    NULL contract: NULL-id rows are excluded — an unaddressable row
    can neither be a cluster member nor a keeper (its ``keep`` would
    be NULL, not false), and equi-joins never match it anyway.

    Duplicate-id contract (r9 contract fuzz): labels attach PER ROW —
    physical copies of one id each receive the (identical) label row,
    and ``cluster_size`` counts logical ids, not physical rows (sizes
    aggregate over the label set, never the corpus). Collapsing exact
    copies is ``exact_dup_groups``' job, upstream of cluster resolution.
    """
    df = df.filter(F.col(id_col).isNotNull())
    labels = connected_components(pairs, src=src, dst=dst)
    sizes = labels.groupBy("component").agg(
        F.count("*").alias("cluster_size"))
    lab = (labels.join(sizes, "component")
           .withColumnRenamed("node", id_col))
    return (df.join(lab, id_col, "left")
            .withColumn("component",
                        F.coalesce(F.col("component"), F.col(id_col)))
            .withColumn("cluster_size",
                        F.coalesce(F.col("cluster_size"), F.lit(1)))
            .withColumn("keep", F.col(id_col) == F.col("component")))


#: PageRank damping factor (the paper's value)
PAGERANK_DAMPING = 0.85


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iter: int = 5, reliable: bool = False) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge set (Page, Brin,
    Motwani, Winograd 1999) — the crawl-side quality prior: a host/page
    linked from many well-linked pages outranks orphaned spam farms,
    and the score feeds the same curation gates as ``quality_score``.

    Each iteration is ONE shuffle class: edges join the (node, rank,
    outdeg) relation on ``src`` (rank relation is |V|-sized — broadcast
    when it fits, AQE decides), contributions aggregate map-side onto
    ``dst``, and dangling mass (rank parked on nodes with no
    out-links) is redistributed uniformly. Edge data never re-shuffles
    across iterations beyond the contribution aggregation, and every
    round ends in a checkpoint for the same lineage-truncation reason
    as ``connected_components`` (the rank frame is referenced 3× per
    round).

    Cross-engine determinism (the oracle contract): ranks are rounded
    to 6 decimals each iteration, per-edge contributions to 12 BEFORE
    summation, and both sums run in ``decimal(38,12)`` — exact,
    order-independent addition, so Spark and an ANSI-SQL twin agree
    bit-for-bit at every iteration. Driver-side state per iteration is
    two bounded scalars (dangling mass, like ``connected_components``'
    convergence signature) — never the graph.

    Returns (node, rank) with ranks summing to ~1 (quantization drift
    bounded by 1e-6 · |V| · n_iter). The damping factor is the
    paper's 0.85 (``PAGERANK_DAMPING``).
    """
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .distinct())

    def mat(df: DataFrame) -> DataFrame:
        if reliable:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = mat(e)
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    outdeg = e.groupBy(F.col("src").alias("node")) \
              .agg(F.count(F.lit(1)).alias("deg"))
    base = mat(nodes.join(outdeg, "node", "left"))
    n = base.count()
    if n == 0:
        return base.select("node", F.lit(0.0).alias("rank"))
    ranks = mat(base.withColumn("rank", F.lit(round(1.0 / n, 6))))
    damping = PAGERANK_DAMPING
    teleport = (1.0 - damping) / n
    for _ in range(n_iter):
        dang = (ranks.filter(F.col("deg").isNull())
                .agg(F.coalesce(
                    F.sum(F.col("rank").cast("decimal(38,6)")),
                    F.lit(0).cast("decimal(38,6)")).alias("m"))
                .collect()[0]["m"])
        dang_share = float(dang) / n
        contrib = (e.join(ranks.filter(F.col("deg").isNotNull())
                          .select(F.col("node").alias("src"),
                                  "rank", "deg"), "src")
                   .select("dst",
                           F.round(F.col("rank") / F.col("deg"), 12)
                           .cast("decimal(38,12)").alias("c"))
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.sum("c").alias("c")))
        ranks = mat(
            ranks.select("node", "deg")
            .join(contrib, "node", "left")
            .withColumn("rank", F.round(
                F.lit(teleport)
                + F.lit(damping)
                * (F.coalesce(F.col("c").cast("double"), F.lit(0.0))
                   + F.lit(dang_share)), 6))
            .drop("c"))
    return ranks.select("node", "rank")


def incremental_components(labels: DataFrame, new_edges: DataFrame,
                           src: str = "id_a", dst: str = "id_b",
                           reliable: bool = False
                           ) -> tuple[DataFrame, DataFrame]:
    """Maintain connected-component labels as a NEW batch of nodes and
    edges arrives, without re-running CC over the stored graph — the
    cluster-maintenance complement of ``incremental_minhash_pairs``:
    admitting a batch to a 100 TB deduped corpus costs O(batch +
    touched components), never O(corpus).

    The stored graph is never revisited because a stored component is
    an opaque SUPERNODE identified by its label (the minimum member
    id). Every new edge endpoint projects through ``labels``
    (``(node, component)``; an unlabeled endpoint is a fresh node and
    stands for itself), and CC runs on that CONTRACTED graph — bounded
    by the new edges and the components they touch. Contraction
    preserves connectivity, and since a stored label IS the minimum of
    its members, the contracted minimum equals the global minimum of
    the merged cluster — labels stay canonical without ever reading
    stored members.

    Returns ``(batch_labels, relabel_map)``:

    - ``batch_labels`` — ``(node, component)`` for every node of
      ``new_edges`` absent from ``labels`` (callers add isolated
      batch rows as their own singletons, the usual left-join +
      coalesce);
    - ``relabel_map`` — ``(component, new_component)`` for stored
      components merged into a smaller label by the batch; apply with
      one broadcast join (only touched components' rows change).
    """
    lab = labels.select(F.col("node").alias("__n"),
                        F.col("component").alias("__c"))
    e = new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = (e.join(lab.select(F.col("__n").alias("u"),
                           F.col("__c").alias("__cu")), "u", "left")
         .join(lab.select(F.col("__n").alias("v"),
                          F.col("__c").alias("__cv")), "v", "left")
         .select(F.coalesce("__cu", "u").alias("cu"),
                 F.coalesce("__cv", "v").alias("cv"))
         .filter(F.col("cu") != F.col("cv")))
    contracted = connected_components(e, src="cu", dst="cv",
                                      reliable=reliable)
    batch_labels = (contracted.join(
        lab.select(F.col("__n").alias("node")), "node", "left_anti"))
    # a supernode whose contracted label differs from itself merged
    # into a smaller cluster; fresh nodes are excluded via semi-join
    relabel = (contracted
               .join(lab.select(F.col("__c").alias("node")).distinct(),
                     "node", "left_semi")
               .filter(F.col("node") != F.col("component"))
               .select(F.col("node").alias("component"),
                       F.col("component").alias("new_component")))
    return batch_labels, relabel


def apply_relabel(labels: DataFrame, relabel_map: DataFrame) -> DataFrame:
    """Fold a ``relabel_map`` from ``incremental_components`` into the
    stored label relation: one broadcast left join; rows of untouched
    components pass through unchanged."""
    from pyspark.sql.functions import broadcast

    return (labels.join(broadcast(relabel_map), "component", "left")
            .select("node",
                    F.coalesce("new_component", "component")
                    .alias("component")))


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", n_iter: int = 3,
                      reliable: bool = False) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, the LPA
    community detector; the GraphX/GraphFrames ``labelPropagation``
    counterpart): every node starts labeled with its own id; each
    round it adopts the most frequent label among its NEIGHBORS
    (undirected view of the edge set), ties broken by the SMALLEST
    label — fully deterministic, unlike the randomized asynchronous
    original. Communities = nodes sharing a final label. Where
    ``connected_components`` answers "is there any path", LPA finds
    DENSE regions inside a component — the domain-cluster /
    topic-community signal over the ``extract_links`` graph that
    pagerank's per-node score cannot give.

    Output: ``(node, label)`` after ``n_iter`` synchronous rounds
    (fixed iterations, matching ``pagerank``'s replayable-oracle
    discipline; LPA label counts are integers, so rounds are exact —
    no rounding contract needed).

    Scale shape (one round): symmetrized edges equi-join the label
    relation on the neighbor key, a (node, label) count map-side-
    combines, and the argmax is ``max_by`` over a ``(count, -label)``
    struct in the SAME grouped aggregation — never a per-node window
    over the corpus-scale neighbor relation. Isolated nodes never
    appear in the edge relation and keep their own label by
    definition. Per-round ``localCheckpoint`` truncates lineage
    (``reliable=True`` swaps in HDFS checkpoints, the pagerank
    contract); driver state is zero rows.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
         .filter(F.col("a") != F.col("b")))
    sym = (e.union(e.select(F.col("b").alias("a"),
                            F.col("a").alias("b"))).distinct())

    def mat(df: DataFrame) -> DataFrame:
        if reliable:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    sym = mat(sym)
    labels = mat(sym.select(F.col("a").alias("node")).distinct()
                 .withColumn("label", F.col("node")))
    for _ in range(n_iter):
        nb = (sym.join(labels.select(F.col("node").alias("b"), "label"),
                       "b")
              .groupBy(F.col("a").alias("node"), "label")
              .agg(F.count(F.lit(1)).alias("__c")))
        # min_by over (-count, label): highest count, then SMALLEST
        # label — negating the count (always numeric) instead of the
        # label keeps the tie-break legal for string node ids (the
        # extract_links host/URL graph) under ANSI.
        labels = mat(nb.groupBy("node").agg(
            # ansi-ok: __c is an internal bigint count; negation is numeric
            F.min_by("label", F.struct((-F.col("__c")).alias("__nc"),
                                       F.col("label")))
            .alias("label")))
    return labels
