"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]`` in one JVM; the configs below are the ones
that matter on a real multi-executor cluster too (AQE, skew handling,
Arrow batching for the Pandas-UDF parse path). Nothing here is
environment-specific — callers may pass overrides.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the driver's local[32]/128GiB harness; on a real
# cluster these come from spark-submit conf and the builder only adds the
# ones not already set (``config`` does not override explicit submit conf).
_DEFAULT_CONF: dict[str, str] = {
    # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
    # At 100 TB this is what keeps a static shuffle.partitions number from
    # being wrong in both directions at once.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Start from core count locally; AQE coalesces down. On a cluster this
    # should be ~2-3x total cores (set via submit conf, not here).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Arrow transfer for every pandas_udf / mapInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # The symbol dimension and per-batch upserts are broadcast-sized.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamp/date behavior for the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: split files for parallelism at local scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Generated-class cache (default 100 entries, static conf): a
    # driver running this registry's ~125 query shapes evicts every
    # compiled class between repetitions, so each re-execution pays
    # Janino compile + fresh-JIT again — the r13/r14 driver benches'
    # flaky 1.7-1.9x cold readings on the largest flat-expression
    # queries (ann_lsh_topk, quantize_embeddings) are exactly this
    # signature. 2000 entries covers the registry with slack at
    # ~10-100 KB/class of metaspace; any long-lived production driver
    # wants the same.
    "spark.sql.codegen.cache.maxEntries": "2000",
    # Cap G1's young generation at 30% of the heap (default 60%). The
    # driver JVM's resident memory is every heap page it ever touched,
    # and G1 grows eden towards the cap only as pauses allow: a job
    # shorter than a few eden cycles ends at a different point of that
    # growth each time. On a 4-vCPU VM with a fixed 2 GB heap, one
    # daily ELT run's peak RSS spread 1.80-2.42 GB over six runs of one
    # code version at the default and 1.63-1.85 GB over fifteen at 30%,
    # with the same wall time; a 10-query pass dropped from ~2.2 GB to
    # ~1.59 GB (PERFORMANCE.md, "Steady driver memory"). The
    # driver's own options (extraJavaOptions) come after these and win.
    "spark.driver.defaultJavaOptions":
        "-XX:+UnlockExperimentalVMOptions -XX:G1MaxNewSizePercent=30",
}

# Measured on this harness (A/B, full bench.py at sf0.1): a 16g driver
# heap is ~40% SLOWER than the 1g default (99.6 s vs 68.4 s) — the
# bigger G1 young gen wrecks cache locality in the single local JVM —
# so the factory does NOT raise spark.driver.memory. The one workload
# that needs headroom is the synthesized-sf1 scale study
# (containment_pairs OOMs at 1g there); tools/scale_study.py passes an
# explicit spark.driver.memory for that run only.


def get_spark(app_name: str = "zacks-estimates-financial-statements-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER",
                                f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
