"""margin_topk + mine_hard_negatives at the CORPUS x CORPUS tier —
the measured backing for "candidate tiers pluggable" beyond
broadcast-sized query sides (round-8 verdict ask #5).

The round-7 study (PERFORMANCE.md, "margin_topk with ANN candidates")
proved RESULT quality of IVF-fed margins with 30 broadcast-sized
queries; this one proves the
SCALE path: the query side is a full corpus-sized relation (the
testdata embeddings ×1 at sf0.1, ×10 via the synth-scale recipe —
re-id'd, per-copy sign-perturbed so copies are near but not equal),
both margin directions come from ``topk_ivf`` over ONE prebuilt
``ivf_build`` index with ``broadcast_queries=False`` (the probe set
shuffles through the centroid equi-join — nothing corpus-sized is
broadcast), and ``mine_hard_negatives(method="ivf")`` rides the same
regime.

Reported per scale: wall seconds (noop-sink full evaluation) for the
IVF-fed margin and IVF hard negatives, the brute-tier wall at x1 as
the yardstick (at x10 brute would be a 4x10^8-pair cross product —
exactly what the plug replaces), and the x1→x10 scaling exponent.
The physical plans are pinned: zero ``CartesianProduct``; the only
``BroadcastNestedLoopJoin``s are the two bounded 16-row centroid
fan-outs (one per direction) — asserted here AND in
``tests/test_plans.py::test_margin_over_ivf_corpus_scale_plan``.

Usage: python tools/margin_corpus_study.py   (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from zacks_estimates_financial_statements_spark.operators import similarity  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = 4
N_CENTROIDS = 16
NPROBE = 4


def synth(base, copies: int):
    """×copies the embedding relation, synth_scale-style: reseeded ids
    and a deterministic per-copy sign flip on one coordinate so copies
    are near-duplicates, not exact ones."""
    n = base.count()
    out = base
    for c in range(1, copies):
        flip = (F.col("vec_id") + c) % 64
        out = out.unionByName(base.select(
            (F.col("vec_id") + c * n).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == flip, -x).otherwise(x)
            ).alias("embedding")))
    return out


def _indent(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-*()0123456789":
        i += 1
    return i


def live_node_counts(plan: str) -> tuple[int, int]:
    """(BNLJ, CartesianProduct) counts EXCLUDING ``InMemoryRelation``
    subtrees — the cached lineage is printed inside the relation node
    but never re-executes (the cache is read instead), so a persisted
    IVF index's build-time fan-out must not count against the plan
    under audit."""
    bnlj = cart = 0
    skip = None
    for ln in plan.splitlines():
        ind = _indent(ln)
        if skip is not None:
            if ind > skip:
                continue
            skip = None
        if "InMemoryRelation" in ln:
            skip = ind
            continue
        bnlj += "BroadcastNestedLoopJoin" in ln
        cart += "CartesianProduct" in ln
    return bnlj, cart


def pin_plan(df, allowed_bnlj: int, tag: str) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    bnlj, cart = live_node_counts(plan)
    assert cart == 0, f"{tag}: cartesian product"
    assert bnlj <= allowed_bnlj, (
        f"{tag}: {bnlj} live BNLJ > {allowed_bnlj} allowed "
        "(only the bounded centroid fan-outs may nested-loop)")


def main() -> int:
    spark = bench.session(**{
        "spark.sql.shuffle.partitions": "32",
        # NOT the bench default-1g rule (that's a timing protocol): the
        # x10 leg streams ~10^8 candidate pairs through 32 concurrent
        # tasks — a 1g heap OOMs in the score stage (measured); a real
        # cluster spreads the same rows over executors
        "spark.driver.memory": "8g"})
    base = (spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
            .select("vec_id", F.col("embedding").cast("array<double>")
                    .alias("embedding")))

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    results = {"sf_dir": SF_DIR, "k": K, "n_centroids": N_CENTROIDS,
               "nprobe": NPROBE, "scales": {}}
    walls = {}
    for tag, copies in (("x1", 1), ("x10", 10)):
        corpus = synth(base, copies).persist()
        n = corpus.count()
        # the "other side": same vectors re-id'd with a different
        # deterministic perturbation — corpus-sized query relation
        queries = corpus.select(
            (F.col("vec_id") + 10 * n).alias("query_id"),
            F.transform("embedding",
                        lambda x, i: F.when(i == F.col("query_id") % 64,
                                            -x).otherwise(x))
            .alias("query_vec")).persist()
        queries.count()

        index = similarity.ivf_build(corpus, n_centroids=N_CENTROIDS)
        t0 = time.time()
        # the 100 TB practice: each direction's candidate relation is
        # materialized ONCE (margin_topk references fwd twice — an
        # unmaterialized subtree would re-run candidate generation and
        # re-inline its centroid fan-out per reference)
        fwd = similarity.topk_ivf(
            corpus, queries, k=K, nprobe=NPROBE, index=index,
            broadcast_queries=False)
        # fwd: ONE bounded BNLJ — the 16-row centroid probe fan-out
        pin_plan(fwd, allowed_bnlj=1, tag=f"fwd/{tag}")
        fwd = fwd.persist()
        bwd = similarity.topk_ivf(
            queries.select(F.col("query_id").alias("vec_id"),
                           F.col("query_vec").alias("embedding")),
            corpus.select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("query_vec")),
            k=K, nprobe=NPROBE, n_centroids=N_CENTROIDS,
            broadcast_queries=False)
        # bwd (no prebuilt index): assignment + probe centroid
        # fan-outs, both 16-row build sides
        pin_plan(bwd, allowed_bnlj=2, tag=f"bwd/{tag}")
        bwd = bwd.persist()
        margins = similarity.margin_topk(corpus, queries, k=K,
                                         fwd=fwd, bwd=bwd)
        # the margin arithmetic itself: equi-joins + bounded groupBys
        # over the materialized candidates — ZERO nested loops
        pin_plan(margins, allowed_bnlj=0, tag=f"margin/{tag}")
        force(margins)
        margin_s = round(time.time() - t0, 2)

        anchors = queries.limit(max(n // 10, 50)).select(
            F.col("query_id").alias("anchor_id"),
            F.col("query_vec").alias("anchor_vec")).persist()
        anchors.count()
        positives = anchors.select(
            "anchor_id", (F.col("anchor_id") % n).alias("vec_id"))
        t0 = time.time()
        negs = similarity.mine_hard_negatives(
            corpus, anchors, positives, n_negatives=5, candidate_k=20,
            method="ivf")
        # internal topk_ivf builds its own assignment: two bounded
        # centroid fan-outs, nothing corpus-scale nested-loops
        pin_plan(negs, allowed_bnlj=2, tag=f"hardneg/{tag}")
        force(negs)
        hn_s = round(time.time() - t0, 2)

        entry = {"rows": n, "margin_ivf_s": margin_s,
                 "hard_negatives_ivf_s": hn_s}
        if copies == 1:
            t0 = time.time()
            force(similarity.margin_topk(corpus, queries, k=K))
            entry["margin_brute_s"] = round(time.time() - t0, 2)
        walls[tag] = margin_s
        results["scales"][tag] = entry
        index.assigned.unpersist()
        fwd.unpersist()
        bwd.unpersist()
        anchors.unpersist()
        corpus.unpersist()
        queries.unpersist()

    import math
    results["margin_scaling_exponent"] = round(
        math.log(walls["x10"] / walls["x1"]) / math.log(10), 2)
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
