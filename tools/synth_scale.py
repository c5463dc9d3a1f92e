"""Synthesize an sf1-equivalent dataset dir for the third scaling
decade (testdata is read-only, so the ×10 corpus is derived):

``documents`` becomes a 10× self-union with RESEEDED ids
(``doc_id + k·10^9``) and, for copies k>0, a per-copy token salt
(every ``[a-z0-9]+`` token gains a ``k``-suffix). The salt keeps the
pair-generating queries honest: verbatim copies would put 10 replicas
in every shingle/bigram cohabitant group and the pair stages would
scale ×100 by construction — a quadratic artifact of the synthesis,
not of the operators. Salted copies instead form their own
same-structure groups, so a token-linear operator should measure
token-linear. Copy 0 stays verbatim (bm25's query terms keep their
matches). All other tables are symlinked from the source dir.

Usage:
  python tools/synth_scale.py [--src /root/testdata/sf0.1]
                              [--out /tmp/sf1_synth] [--mult 10]

Then:
  python tools/scale_study.py --small /root/testdata/sf0.1 \
      --big /tmp/sf1_synth repetition_stats containment_pairs \
      lm_perplexity bm25_search
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sf1_synth")
    ap.add_argument("--mult", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import bench

    spark = bench.session()

    os.makedirs(args.out, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(args.out, f"{t}.parquet")
        if t == "documents":
            continue
        if not os.path.exists(dst):
            os.symlink(os.path.join(args.src, f"{t}.parquet"), dst)

    docs = spark.read.parquet(os.path.join(args.src, "documents.parquet"))
    copies = []
    for k in range(args.mult):
        c = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(k * 1_000_000_000))
        if k > 0:
            c = c.withColumn(
                "text",
                F.regexp_replace(F.col("text"), r"([a-z0-9]+)",
                                 f"$1{k}"))
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    dst = os.path.join(args.out, "documents.parquet")
    # ONE physical file, not a part-file directory: the DuckDB side of
    # oracle_check reads read_parquet('<dir>/documents.parquet') and a
    # directory does not match (the corpus is ~50k rows — fine in one
    # file; this synth tool is a test-scale generator, not a writer)
    stage = os.path.join(args.out, "__stage_documents")
    (out.coalesce(1).write.mode("overwrite").parquet(stage))
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    if os.path.isdir(dst):
        import shutil
        shutil.rmtree(dst)
    os.replace(os.path.join(stage, part), dst)
    import shutil
    shutil.rmtree(stage, ignore_errors=True)
    n = spark.read.parquet(dst).count()
    print(f"wrote {dst}: {n} docs ({args.mult}x)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
