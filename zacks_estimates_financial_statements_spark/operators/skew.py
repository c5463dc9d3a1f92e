"""Skew-join handling: an explicit bloom semi-join reduction.

AQE's skew-join splitting (enabled in ``session.py``) handles most skew
at runtime by splitting oversized shuffle partitions. ``bloom_semi_join``
is the explicit lever for joins whose small side is too big to broadcast
exactly but whose key set compresses into a bitmap: the large side is
pre-filtered against that bitmap before the real join's exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: bloom bitmap size and hash count: ≈ 1.7% false positives at ~100k
#: keys, a 128 KiB broadcast
BLOOM_BITS = 1 << 20
BLOOM_HASHES = 3


def bloom_semi_join(large: DataFrame, small: DataFrame,
                    on: list[str] | str, how: str = "inner") -> DataFrame:
    """Exact ``large.join(small, on, how)`` with an explicit BLOOM
    semi-join reduction on the large side — the 100 TB lever for joins
    whose small side is too big to broadcast exactly but whose KEY SET
    compresses into a bitmap.

    Spark's own runtime bloom filter exists but is conf-gated (and hangs
    local mode — see session.py's note on
    ``spark.sql.optimizer.runtime.bloomFilter``); this operator is the
    deterministic, always-available form. The filter side builds
    ``BLOOM_HASHES`` bit positions per distinct key (seeded ``xxhash64``),
    ORs them into a ``BLOOM_BITS/64``-word bitmap relation, and folds that
    into ONE row holding a DENSE ``array<long>`` (O(1) ``element_at`` probes
    — a map column would linear-scan its entries per lookup, measured 6x
    slower at 10M probes). The probe side attaches it via the whitelisted
    1-row broadcast crossJoin (the scalar-attach shape — the big side never
    shuffles for the filter) and keeps only rows whose every bit is set,
    BEFORE the real join's exchange. False positives survive to the exact
    join and are eliminated there; false negatives cannot occur (every key
    set its own bits), so the result is byte-equal to the plain join.

    Only ``inner`` and ``left_semi`` are allowed: for outer joins a
    pre-filter on the probe side would drop rows the join must keep.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom pre-filter is sound only for inner/left_semi, "
            f"got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    kcols = [F.col(k) for k in keys]
    n_bits = BLOOM_BITS

    def positions(prefix_cols):
        return [F.pmod(F.xxhash64(F.lit(i), *prefix_cols),
                       F.lit(n_bits)) for i in range(BLOOM_HASHES)]

    pos = (small.select(*keys).distinct()
           .select(F.explode(F.array(*positions(kcols))).alias("p")))
    words = (pos.select((F.col("p") / 64).cast("long").alias("w"),
                        F.call_function(
                            "shiftleft", F.lit(1).cast("long"),
                            F.pmod(F.col("p"), F.lit(64)).cast("int"))
                        .alias("b"))
             .groupBy("w").agg(F.expr("bit_or(b)").alias("bits")))
    # DENSE array<long> bitmap, not a map: element_at on a Spark map
    # column is a LINEAR scan of the entries per lookup — measured
    # 9.5 s vs 1.5 s probing 10M rows against a 16K-word map vs array
    # (tools/bloom_study.py). The range left-join completes absent
    # words with 0 so the array index IS the word index.
    n_words = (n_bits + 63) // 64
    bloom = (small.sparkSession.range(n_words)
             .select(F.col("id").alias("w"))
             .join(words, "w", "left")
             .select("w", F.coalesce("bits", F.lit(0).cast("long"))
                     .alias("bits"))
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("w", "bits"))),
                 lambda s: s["bits"]).alias("__bloom")))

    probed = large.crossJoin(F.broadcast(bloom))
    cond = None
    for p in positions(kcols):
        w = (p / 64).cast("long")
        bit = F.call_function("shiftleft", F.lit(1).cast("long"),
                              F.pmod(p, F.lit(64)).cast("int"))
        hit = (F.element_at(F.col("__bloom"), (w + 1).cast("int"))
               .bitwiseAND(bit) != 0)
        cond = hit if cond is None else (cond & hit)
    probed = probed.filter(cond).drop("__bloom")
    return probed.join(small, keys, how)
