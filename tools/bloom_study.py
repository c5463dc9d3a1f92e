"""bloom_semi_join design-point study: measure the probe-side row
reduction and shuffle savings AT THE SHAPE THE OPERATOR EXISTS FOR —
a filter side too big to broadcast (SortMergeJoin regime), a large
side where only ~1% of rows survive the join.

The oracle query proves byte-equality, but it runs where a broadcast
join would win anyway; this study builds the honest scenario:

- large: N_LARGE rows (bigint key + bigint payload), parquet-backed
  so the planner sees real file-size stats;
- small: N_KEYS distinct keys (every STRIDE-th key) with an
  incompressible ~256 B payload -> the parquet file lands well above
  spark.sql.autoBroadcastJoinThreshold, so the PLAIN join is a
  SortMergeJoin that shuffles every large row;
- bloom: same logical join via bloom_semi_join — the 128 KiB bitmap
  (2^20 bits, 3 hashes) broadcasts, the probe filter drops ~97-98% of
  large rows BEFORE the exchange, and only survivors (matches + the
  theoretical ~1.7% false-positive tail) shuffle into the same SMJ.

Metrics come from the status REST API (shuffle write bytes/records per
new stage), equality from count + order-insensitive xor of row hashes.
Writes the measured table to stdout (markdown) for PERFORMANCE.md.

Usage: python tools/bloom_study.py [--large 10000000] [--keys 100000]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--large", type=int, default=10_000_000)
    ap.add_argument("--keys", type=int, default=100_000)
    args = ap.parse_args()
    stride = args.large // args.keys

    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.operators import skew

    spark = bench.session(**{
        **bench.STAGE_UI,
        "spark.sql.shuffle.partitions": "32",
        # Spark's STOCK threshold (the engine session raises it to
        # 64 MB): both sides here exceed 10 MB, which is the 100 TB
        # regime in miniature — at real scale both sides exceed ANY
        # threshold and the plain join is a full-shuffle SMJ
        "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024)})
    scratch = tempfile.mkdtemp(prefix="bloom_study_")
    try:
        (spark.range(args.large)
         .select(F.col("id").alias("k"),
                 (F.col("id") * 7 % 1000).alias("v"))
         .write.mode("overwrite").parquet(f"{scratch}/large"))
        (spark.range(args.keys)
         .select((F.col("id") * stride).alias("k"),
                 # ~1 KB of md5 text per key: incompressible enough to
                 # push the parquet file past the session's raised
                 # 64 MB autoBroadcastJoinThreshold — the plain join
                 # must be a genuine SMJ, not a broadcast
                 F.concat(*[F.md5(F.concat(F.lit(str(s)), F.col("id")
                                           .cast("string")))
                            for s in range(32)]).alias("payload"))
         .write.mode("overwrite").parquet(f"{scratch}/small"))
        large = spark.read.parquet(f"{scratch}/large")
        small = spark.read.parquet(f"{scratch}/small")
        small_mb = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(f"{scratch}/small")
            for f in fs) / 1e6
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        print(f"# small side: {small_mb:.1f} MB parquet vs "
              f"autoBroadcastJoinThreshold={thresh} -> SMJ regime",
              file=sys.stderr)

        def xor_hash(df):
            # order-insensitive exact table digest: xor-fold row hashes
            cols = [F.col(c).cast("string") for c in sorted(df.columns)]
            r = (df.select(F.xxhash64(*cols).alias("h"))
                 .agg(F.count("*").alias("n"),
                      F.expr("bit_xor(h)").alias("x")).collect()[0])
            return (r["n"], r["x"])

        def measure(name, df):
            with bench.new_stages(spark) as stages:
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                wall = time.time() - t0
            shb = shr = inr = 0
            for s in stages:
                shb += s.get("shuffleWriteBytes", 0)
                shr += s.get("shuffleWriteRecords", 0)
                inr += s.get("inputRecords", 0)
            return {"name": name, "wall_s": round(wall, 2),
                    "shuffle_mb": round(shb / 1e6, 2),
                    "shuffle_krows": round(shr / 1e3, 1),
                    "input_krows": round(inr / 1e3, 1)}

        plain_df = large.join(small, "k")
        bloom_df = skew.bloom_semi_join(large, small, "k")

        plan = plain_df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, \
            "plain join unexpectedly broadcast — small side too small"

        # equality first (also warms page cache for both identically)
        pc, bc = plain_df.count(), bloom_df.count()
        assert pc == bc, (pc, bc)
        ph = xor_hash(plain_df)
        bh = xor_hash(bloom_df)
        assert ph == bh, "bloom result differs from plain join"
        rows = [measure("plain_smj", plain_df),
                measure("bloom_semi_join", bloom_df)]
        print(f"# rows: large={args.large/1e6:.0f}M keys={args.keys/1e3:.0f}k "
              f"matches={pc} ({100*pc/args.large:.2f}% of large)",
              file=sys.stderr)
        print("| variant | wall s | shuffle MB | shuffle krows "
              "| input krows |")
        print("|---|---|---|---|---|")
        for r in rows:
            print(f"| {r['name']} | {r['wall_s']} | {r['shuffle_mb']} "
                  f"| {r['shuffle_krows']} | {r['input_krows']} |")
        sav = 1 - rows[1]["shuffle_mb"] / max(rows[0]["shuffle_mb"], 1e-9)
        print(f"# shuffle-bytes saved: {100*sav:.1f}%  "
              f"(match rows {pc/1e3:.0f}k)", file=sys.stderr)
        return 0
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
