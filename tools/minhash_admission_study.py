"""Incremental MinHash admission at the CORPUS x CORPUS tier — the
dedup-side sibling of tools/margin_corpus_study.py (round-8 verdict
ask #6: "incremental MinHash admission at ×10 batch over a ×10 stored
index, mirroring the margin study").

The unit tests prove incremental_minhash_pairs' RESULT (admission ==
the full-corpus pair sweep restricted to batch rows); this proves the
SCALE path end to end, in the regime the operator documents — a
BOUNDED batch (a day's crawl) admitted against a GROWING stored
corpus:

- the stored index is minhash_index over the sf0.1 documents corpus
  scaled ×1 / ×10 (re-id'd copies with a per-copy salt word spliced
  into every shingle window, so copies are DISTINCT documents to the
  LSH), written to PARQUET **sorted by bucket** — tight per-row-group
  bucket min/max is what makes probe pushdown prune anything;
- the admitted batch is FIXED SIZE across scales (10% of the base
  corpus, one-word-perturbed so the gate fires): the operator's claim
  is that admission cost is O(batch) sketch work + the index scan,
  and with ``prune_index_scan=True`` even the scan is O(probed
  buckets) — so the PRUNED admission wall should stay ~flat as the
  index grows ×10 (exponent ≈ 0). Measured: BOTH walls are flat at
  local scale (a ≤200k-row index scans in <0.2 s, so the full-scan
  wall is also batch-dominated and absolutely cheaper — the prune's
  collect+pushdown constant only amortizes against indexes too large
  to scan, the 100 TB regime). The prune's effect is therefore also
  reported FUNCTIONALLY: ``index_rows_probed`` vs ``index_rows`` —
  the scan reduction the pushed keys achieve (~batch-bounded, not
  index-bounded);
- ``spark.sql.parquet.pushdown.inFilterThreshold`` is raised for the
  pruned leg: above the default (10 values) Spark degrades a pushed
  In to a min/max RANGE, and uniformly-hashed bucket keys span the
  whole range — i.e. the prune silently stops pruning. The operator
  docstring documents both requirements (sorted layout + threshold).

First-cut honesty notes, kept because they changed the design: (a) a
naive ×10 of BOTH sides turned the collected key list into a
20k-literal filter and the pruned path lost to the full scan 13 s to
2 s — the prune is an asymmetric-regime tool, not a default; (b) a
naive marker-append synth left copies near-dups of each other and the
admitted pair count grew ×copies².

Plans are pinned live (margin-study discipline): ZERO CartesianProduct
and ZERO BroadcastNestedLoopJoin anywhere — the probe side attaches by
a broadcast-hash band/bucket equi-join, never a nested loop. Reported
per scale: index rows/build wall, admission wall (pruned + full-scan),
admitted pair count, and the ×1→×10 scaling exponent of each
admission path (headline: pruned ≈ flat, full-scan ≈ index-linear).

Usage: python tools/minhash_admission_study.py   (one JSON line; also
rewrites MINHASH_ADMISSION_STUDY.json when run from the repo root)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from zacks_estimates_financial_statements_spark.operators import dedup  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K, BANDS = 12, 4


def synth_docs(base, copies: int, n: int):
    """×copies the documents relation: re-id'd, and every copy gets a
    per-copy salt word spliced after every 3rd word — at shingle_k=3
    that rewrites essentially every shingle, so copies are DISTINCT
    documents to the LSH (a naive append-one-marker synth left all
    copies near-dups of each other, and the admitted pair count grew
    ×copies² instead of tracking the batch — measured in the first cut
    of this study)."""
    def salted(c):
        words = F.split(F.col("text"), " ")
        spliced = F.flatten(F.transform(
            words,
            lambda w, i: F.when(i % 3 == 2,
                                F.array(w, F.lit(f"salt{c}x")))
            .otherwise(F.array(w))))
        return F.array_join(spliced, " ")

    out = base
    for c in range(1, copies):
        out = out.unionByName(base.select(
            (F.col("doc_id") + c * n).alias("doc_id"),
            salted(c).alias("text")))
    return out


def pin_plan(df, tag: str) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{tag}: cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, f"{tag}: BNLJ"


def main() -> int:
    spark = bench.session(**{
        "spark.sql.shuffle.partitions": "32",
        # default 10: a longer pushed In degrades to a min/max range,
        # which uniformly-hashed bucket keys always span — the prune
        # would silently stop pruning (see module docstring)
        "spark.sql.parquet.pushdown.inFilterThreshold": "100000",
        # the pushed 2000-value In builds a deep predicate tree in the
        # parquet filter layer — default 1m thread stacks
        # StackOverflow (measured); a real cluster sets this once per
        # executor JVM
        "spark.driver.extraJavaOptions": "-Xss32m"})

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    base = (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            .filter(F.col("doc_id").isNotNull()
                    & F.col("text").isNotNull())
            .select("doc_id", "text"))
    n0 = base.count()

    root = tempfile.mkdtemp(prefix="mh_admit_")
    results = {"sf_dir": SF_DIR, "k": K, "bands": BANDS, "scales": {}}
    walls = {}
    try:
        # FIXED admitted batch across scales — the admission regime:
        # 10% of the BASE corpus, re-id'd + one-word-perturbed so the
        # gate fires against the stored copies of those docs
        batch = (base.filter(F.col("doc_id") % 10 == 3)
                 .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                         F.concat_ws(" ", F.col("text"),
                                     F.lit("admitted")).alias("text"))
                 .persist())
        n_batch = batch.count()
        results["batch_rows"] = n_batch
        for tag, copies in (("x1", 1), ("x10", 10)):
            corpus = synth_docs(base, copies, n0)
            n = n0 * copies
            idx_path = os.path.join(root, f"index_{tag}")
            t0 = time.time()
            # sorted by bucket: tight row-group min/max = prunable
            dedup.minhash_index(corpus, "doc_id", "text",
                                k=K, bands=BANDS) \
                .sort("bucket").write.parquet(idx_path)
            build_s = round(time.time() - t0, 2)
            index = spark.read.parquet(idx_path)

            t0 = time.time()
            pruned = dedup.incremental_minhash_pairs(
                index, batch, "doc_id", "text", k=K, bands=BANDS,
                prune_index_scan=True)
            pin_plan(pruned, f"pruned/{tag}")
            force(pruned)
            pruned_s = round(time.time() - t0, 2)

            t0 = time.time()
            full = dedup.incremental_minhash_pairs(
                index, batch, "doc_id", "text", k=K, bands=BANDS,
                prune_index_scan=False)
            pin_plan(full, f"fullscan/{tag}")
            force(full)
            full_s = round(time.time() - t0, 2)

            n_pairs = pruned.count()
            # the prune's FUNCTIONAL effect (wall time can't show it
            # while the whole index scans in <0.2 s): how many index
            # rows the probed scan returns vs the full index
            probe_keys = [r["bucket"] for r in
                          dedup.minhash_index(batch, "doc_id", "text",
                                              k=K, bands=BANDS)
                          .select("bucket").distinct().collect()]
            probed_rows = index.filter(
                F.col("bucket").isin(probe_keys)).count()
            walls[tag] = {"pruned": pruned_s, "full": full_s}
            results["scales"][tag] = {
                "corpus_rows": n,
                "index_rows": n * BANDS,
                "index_build_s": build_s,
                "admission_pruned_s": pruned_s,
                "admission_fullscan_s": full_s,
                "index_rows_probed": probed_rows,
                "admitted_pairs": n_pairs,
            }
    finally:
        shutil.rmtree(root, ignore_errors=True)

    for path in ("pruned", "full"):
        results[f"admission_scaling_exponent_{path}"] = round(
            math.log(max(walls["x10"][path], 0.01)
                     / max(walls["x1"][path], 0.01)) / math.log(10), 3)
    spark.stop()
    line = json.dumps(results)
    print(line)
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "MINHASH_ADMISSION_STUDY.json")
    with open(out, "w") as f:
        f.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
