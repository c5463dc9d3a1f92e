"""Distributed as-of (point-in-time) join.

Spark has no native as-of join, and the naive forms fall apart at
scale: a non-equi range join degenerates to a per-key nested loop, and
"join then keep latest" explodes every left row by its full right-side
history before throwing most of it away. The classic distributed
formulation — the one kdb+'s ``aj`` and pandas ``merge_asof`` express
per-partition — is a *union merge*: tag both inputs, union them, sort
each key's timeline once, and carry the most recent right-side values
forward with ``last(..., ignorenulls=True)`` over an unbounded
preceding window.

Cost shape: ONE shuffle (the window's hash partition on the key), no
row amplification at any point — each input row appears exactly once
in the shuffled timeline regardless of how many right rows precede a
left row. Skew follows per-key row volume, the same bound as any
window/sessionization over the key, and AQE's skew handling applies.
This is the 100 TB-safe plan; a broadcast range join is only viable
while one whole side fits in memory.

Semantics match DuckDB's ``ASOF JOIN`` (the oracle twin) and pandas
``merge_asof``'s default ``backward`` direction: for each left row, the
right row with the greatest timestamp satisfying ``right_ts <=
left_ts``, equal timestamps matching. Callers
must make the right side unique per (key, timestamp) — with duplicate
right timestamps "the" as-of row is undefined in every engine; this
implementation deterministically takes the last one in union order,
but cross-engine hash comparisons need the ambiguity removed at the
source (pre-aggregate).

The matched right row is carried ATOMICALLY: all value columns plus
the matched timestamp travel in one struct, so a NULL in a matched
row's value column stays NULL in the output (as DuckDB ASOF returns
the matched row's NULL) instead of leaking that column from an older
right row — the failure mode of carrying each column independently
with ``last(col, ignorenulls=True)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from zacks_estimates_financial_statements_spark.util import dec6


def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_ts: str, right_ts: str,
              matched_ts_col: str | None = "matched_ts") -> DataFrame:
    """Attach to every ``left`` row the values of the latest ``right``
    row at or before it.

    ``on`` is the equality key present in both inputs; ``left_ts`` /
    ``right_ts`` are timestamp columns. Every right column except the
    key and timestamp is appended to the left schema, NULL when no
    right row qualifies. ``matched_ts_col`` names the column carrying
    the matched right timestamp (None drops it).
    """
    value_cols = [c for c in right.columns if c not in (on, right_ts)]
    overlap = [c for c in value_cols if c in left.columns]
    if overlap:
        raise ValueError("right value columns collide with left columns: "
                         f"{overlap} — alias the right side first")
    if matched_ts_col is not None and matched_ts_col in left.columns:
        raise ValueError(
            f"matched_ts_col {matched_ts_col!r} collides with a left "
            "column — rename it or pass matched_ts_col=None")

    if "__rts" in value_cols:
        raise ValueError("the right side may not carry the reserved "
                         "column name '__rts'")
    # the matched row travels as ONE struct (__rts + every value col):
    # last(struct, ignorenulls) skips only left-row NULL structs, never
    # a right row whose value column happens to be NULL — field-level
    # NULLs stay attached to their own row (DuckDB ASOF semantics)
    rv_expr = F.struct(F.col(right_ts).alias("__rts"),
                       *[F.col(c).alias(c) for c in value_cols])
    rv_type = right.select(rv_expr.alias("__rv")).schema[0].dataType
    # side tag orders right rows BEFORE left rows at equal timestamps,
    # which is what makes equal-timestamp matches inclusive
    r = right.select(
        F.col(on).alias("__k"), F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"), rv_expr.alias("__rv"),
        *[F.lit(None).alias(f"__l_{c}") for c in left.columns])
    lcols = [F.col(c).alias(f"__l_{c}") for c in left.columns]
    l = left.select(  # noqa: E741 — l/r mirror the join sides
        F.col(on).alias("__k"), F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"), F.lit(None).cast(rv_type).alias("__rv"),
        *lcols)

    merged = r.unionByName(l)
    w = (Window.partitionBy("__k").orderBy(F.asc("__ts"), F.asc("__side"))
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = F.last("__rv", ignorenulls=True).over(w).alias("__arv")

    out = (merged.select("*", carried)
           .filter(F.col("__side") == 1))

    final = [F.col(f"__l_{c}").alias(c) for c in left.columns]
    final += [F.col("__arv").getField(c).alias(c) for c in value_cols]
    if matched_ts_col is not None:
        final.append(F.col("__arv").getField("__rts").alias(matched_ts_col))
    return out.select(*final)


_GRAINS = ["second", "minute", "hour", "day", "week", "month",
           "quarter", "year"]


def hierarchical_rollup(df: DataFrame, ts_col: str,
                        key_cols: list[str], value_col: str,
                        granularities: tuple[str, ...] = (
                            "minute", "hour", "day")) -> DataFrame:
    """Multi-granularity time-bucket rollup (the hypertable
    continuous-aggregate pattern), built as a CHAIN of re-aggregations
    instead of GROUPING SETS.

    Spark plans GROUPING SETS with an Expand node that multiplies every
    input row by the number of grouping sets BEFORE the shuffle — at
    100 TB that is a 3× shuffle volume for a 3-level rollup. The
    hierarchical form aggregates the raw table once at the finest
    granularity (the only full-size shuffle), then derives each coarser
    level from the previous level's output, whose cardinality is
    bounded by #keys × #buckets — successive shuffles shrink
    geometrically. Numeric equivalence to direct per-level aggregation
    is exact because the measure is summed as ``decimal(38,6)``
    (floating-point re-association would differ in the last ulp and
    break cross-engine hashes).

    The union branches share the finest-level aggregation subtree; the
    static plan prints it per branch, but AQE's exchange reuse dedupes
    the identical shuffle stages at runtime (verified: 2 ReusedExchange
    nodes in the executed plan, one raw-table scan total).

    ``granularities`` must coarsen monotonically with aligned bucket
    boundaries (second < minute < hour < day < week|month < quarter <
    year); ``week`` aligns with nothing coarser, so it may only appear
    last. Returns one row per (granularity, keys, bucket) with
    ``n_events`` and ``sum_value``.
    """
    gs = list(granularities)
    try:
        idx = [_GRAINS.index(g) for g in gs]
    except ValueError:
        raise ValueError(f"unknown granularity in {gs}; "
                         f"supported: {_GRAINS}") from None
    if len(gs) < 1 or idx != sorted(idx) or len(set(idx)) != len(idx):
        raise ValueError(
            f"granularities must coarsen strictly monotonically, got {gs}")
    if "week" in gs[:-1]:
        raise ValueError("week boundaries align with no coarser "
                         "granularity — 'week' may only appear last")

    dec = dec6(F.col(value_col))
    level = (df.groupBy(*key_cols,
                        F.date_trunc(gs[0], F.col(ts_col)).alias("bucket"))
             .agg(F.count("*").alias("n_events"),
                  F.sum(dec).alias("sum_value")))
    out = level.withColumn("granularity", F.lit(gs[0]))
    for g in gs[1:]:
        level = (level.groupBy(*key_cols,
                               F.date_trunc(g, F.col("bucket"))
                               .alias("bucket"))
                 .agg(F.sum("n_events").alias("n_events"),
                      F.sum("sum_value").alias("sum_value")))
        out = out.unionByName(level.withColumn("granularity", F.lit(g)))
    return out.select("granularity", *key_cols, "bucket",
                      "n_events", "sum_value")


def conversion_funnel(events: DataFrame, user_col: str, type_col: str,
                      ts_col: str, steps: list[str],
                      horizon_seconds: int | None = None) -> DataFrame:
    """Ordered conversion funnel (the classic events-analytics query):
    per user, the earliest chain completing ``steps`` strictly in
    order — step *i*'s timestamp is the minimum event of that type
    AFTER the user's step *i-1* timestamp (and, with
    ``horizon_seconds``, within that horizon of step 1 — the
    attribution-window variant).

    Plan shape: one map-side-combined min-aggregate per step, each over
    the events of ONE type (the type filter prunes the scan), chained
    by per-user equi-joins of user-cardinality relations — no window
    over the raw event stream, no per-user event sorting, so the fact
    table is read once per step and shuffled only as per-user minima.
    The greedy earliest-chain semantics is the standard funnel
    definition (earliest step-1 anchor, then earliest qualifying
    successor each round).

    Output: ``(user, ts_1..ts_k, depth)`` — one row per user who
    completed at least step 1; ``depth`` = longest completed prefix.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    u, t = F.col(user_col), F.col(ts_col)
    cur = (events.filter(F.col(type_col) == steps[0])
           .groupBy(user_col).agg(F.min(t).alias("ts_1")))
    out = cur
    for i, step in enumerate(steps[1:], 2):
        prev_ts = F.col(f"ts_{i - 1}")
        nxt = (events.filter(F.col(type_col) == step)
               .select(u.alias(user_col), t.alias("__t"))
               .join(out.select(user_col, f"ts_{i - 1}",
                                *(["ts_1"] if i > 2 else [])),
                     user_col)
               .filter(F.col("__t") > prev_ts))
        if horizon_seconds is not None:
            nxt = nxt.filter(
                F.col("__t") <= F.col("ts_1")
                + F.expr(f"INTERVAL {horizon_seconds} SECONDS"))
        nxt = nxt.groupBy(user_col).agg(F.min("__t").alias(f"ts_{i}"))
        out = out.join(nxt, user_col, "left")
    # depth: first non-null from the deep end (ts_i non-null implies
    # every earlier ts non-null by construction)
    depth = None
    for i in range(len(steps), 1, -1):
        c = F.when(F.col(f"ts_{i}").isNotNull(), F.lit(i))
        depth = c if depth is None else depth.when(
            F.col(f"ts_{i}").isNotNull(), F.lit(i))
    depth = F.lit(1) if depth is None else depth.otherwise(F.lit(1))
    return out.withColumn("depth", depth.cast("int"))


def retention_cohorts(events: DataFrame, user_col: str, ts_col: str,
                      granularity: str = "week") -> DataFrame:
    """Cohort retention matrix — the other classic events-analytics
    query: users grouped by their FIRST-ACTIVITY bucket (the cohort),
    counted in every subsequent bucket they return in.

    Two map-side-combined aggregations: first-seen per user (one
    shuffle on the user), then distinct (cohort, offset, user) counts —
    the user relation joins back onto the bucketed activity with the
    cohort as a per-user scalar, so the event stream shuffles once for
    first-seen and once (reduced to distinct user-buckets) for the
    matrix. ``retained / cohort_size`` is exact decimal-free integer
    data; rate rounding happens on both engines identically.

    Output: ``(cohort, offset, retained, cohort_size, rate)`` — offset
    in buckets since the cohort bucket, offset 0 = the cohort itself.
    """
    u, t = F.col(user_col), F.col(ts_col)
    bucket = F.date_trunc(granularity, t)
    acts = (events.select(u.alias("__u"), bucket.alias("__b"))
            .distinct())
    first = acts.groupBy("__u").agg(F.min("__b").alias("__cohort"))
    sizes = first.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    unit_days = {"day": 1, "week": 7}.get(granularity)
    if unit_days is None:
        raise ValueError("granularity must be 'day' or 'week' "
                         "(calendar months are not fixed-width; bucket "
                         "arithmetic would be ambiguous)")
    # Calendar-wise offset (datediff // unit_days), NOT a unix-seconds
    # delta: in a DST session timezone a week bucket can span
    # 604800±3600 s and a truncating epoch division lands in k−1.
    joined = (acts.join(first, "__u")
              .select("__cohort",
                      (F.datediff(F.col("__b"), F.col("__cohort"))
                       .cast("long") / F.lit(unit_days))
                      .cast("long").alias("offset"),
                      "__u"))
    matrix = (joined.groupBy("__cohort", "offset")
              .agg(F.countDistinct("__u").alias("retained")))
    return (matrix.join(sizes, "__cohort")
            .select(F.col("__cohort").alias("cohort"), "offset",
                    "retained", "cohort_size",
                    F.round(F.col("retained") / F.col("cohort_size"), 6)
                    .alias("rate")))
