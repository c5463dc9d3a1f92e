"""Table profiling: per-column data-contract statistics in one pass.

A 100 TB ingestion pipeline needs cheap, continuous answers to "did this
delivery drift?" — null-rate spikes, cardinality collapse, range
excursions — before the data reaches training jobs. ``profile_table``
computes the per-column panel (null count, distinct count, min/max,
string length) as ONE map-side-combined aggregation over a single scan:
every statistic is an ordinary Spark aggregate, so the job is a single
shuffle of one combiner row per partition regardless of table size.

Scale notes:

- Distinct counts default to ``approx_count_distinct`` (HyperLogLog++,
  constant memory, folds into the same single-pass agg). ``exact=True``
  switches to ``count(DISTINCT ...)`` — which Catalyst plans via Expand
  (input replicated once per distinct aggregate, i.e. ×n_columns
  pre-shuffle rows). Exact mode exists for oracle-grade verification
  and small tables; at corpus scale use the default.
- min/max/avg-length are rendered through a per-type canonical text
  form (doubles via ``decimal(38,6)`` trim, timestamps as epoch-µs) so
  profiles diff cleanly across engines and snapshot stores — the same
  cross-engine contract the oracle harness uses.
- Unsupported types (arrays, structs, binary) profile null-count only;
  min/max/distinct are NULL, not an error — a profiler must never fail
  the pipeline it guards.

The long (one-row-per-column) output shape is deliberate: profiles of
different tables/snapshots union and join by ``column``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as Ty

from zacks_estimates_financial_statements_spark.export import decimal_text
from zacks_estimates_financial_statements_spark.util import dec6

#: types whose min/max/distinct are well-defined and text-renderable
_ORDERED = (Ty.StringType, Ty.ByteType, Ty.ShortType, Ty.IntegerType,
            Ty.LongType, Ty.FloatType, Ty.DoubleType, Ty.DecimalType,
            Ty.DateType, Ty.TimestampType, Ty.BooleanType)


def _render(col: F.Column, dt: Ty.DataType) -> F.Column:
    """Canonical text form of a value: stable across engines."""
    if isinstance(dt, (Ty.FloatType, Ty.DoubleType, Ty.DecimalType)):
        return decimal_text(dec6(col))
    if isinstance(dt, Ty.TimestampType):
        return F.unix_micros(col).cast("string")
    return col.cast("string")


def profile_table(df: DataFrame, exact: bool = False) -> DataFrame:
    """Per-column profile of ``df`` as one single-scan aggregation.

    Output: one row per column of ``df`` —
    ``column, n_rows, n_nulls, n_distinct, min_value, max_value,
    avg_len`` (``avg_len`` is the mean string length, string columns
    only; min/max in the canonical text form; ``n_distinct`` excludes
    NULLs and is approximate unless ``exact``).

    ``exact`` scans ``df`` twice; the job fails when the two scans
    count different rows (a non-deterministic input), rather than
    returning a profile of neither.
    """
    cols = df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    dist_aggs = []
    for c in cols:
        dt = df.schema[c].dataType
        q = F.col(c)
        aggs.append(F.count(q).alias(f"{c}__nn"))
        if isinstance(dt, _ORDERED):
            nd = (F.countDistinct(q) if exact
                  else F.approx_count_distinct(q))
            # EXACT distinct counts go into a SEPARATE aggregation
            # (r14): Catalyst rewrites multi-column count(DISTINCT)
            # with an Expand (one row replica per distinct column),
            # and in a combined aggregation the gid-0 replica drags
            # every min/max/avg buffer through the resulting
            # (cols+1)-key SortAggregate — measured 1.86 s combined
            # vs 0.37 + 0.17 s split at 100k rows. Two plain column-
            # pruned scans beat one scan that sort-aggregates a 7x
            # row expansion; the approximate sketch needs no Expand,
            # so the single-scan form stays optimal there.
            (dist_aggs if exact else aggs).append(nd.alias(f"{c}__nd"))
            aggs += [_render(F.min(q), dt).alias(f"{c}__min"),
                     _render(F.max(q), dt).alias(f"{c}__max")]
        else:
            aggs += [F.lit(None).cast("long").alias(f"{c}__nd"),
                     F.lit(None).cast("string").alias(f"{c}__min"),
                     F.lit(None).cast("string").alias(f"{c}__max")]
        if isinstance(dt, Ty.StringType):
            # integer length sums stay exact in double far past corpus
            # scale (2^53 chars); round once at the end
            aggs.append(F.round(F.sum(F.length(q))
                                / F.count(q), 6).alias(f"{c}__al"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__al"))
    if dist_aggs:
        # 1 x 1 rows. The join key must survive constant folding or
        # the equi-condition collapses and the planner falls back to a
        # BroadcastNestedLoopJoin (the plan_audit-banned shape):
        # lit(1) = lit(1) folds to true, count(*) * 0 folds to 0.
        # Joining the two panels on count(*) ITSELF is fold-proof and
        # equal on both sides when ``df`` is deterministic — the 1-row
        # panels meet in a broadcast hash join. The join is LEFT so
        # that two scans counting different rows leave __k NULL and
        # raise, instead of an inner join's silent empty profile.
        dist_aggs.append(F.count(F.lit(1)).alias("__k"))
        dist_row = F.broadcast(df.agg(*dist_aggs))
        joined = df.agg(*aggs).join(dist_row, F.col("__n") == F.col("__k"),
                                    "left")
        row = joined.select(
            *[c for c in joined.columns if c not in ("__n", "__k")],
            F.coalesce(F.col("__k"), F.raise_error(F.lit(
                "profile_table: the two scans of the input counted "
                "different rows (non-deterministic input)"))
                .cast("long")).alias("__n"))
    else:
        row = df.agg(*aggs)
    panels = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col("__n").alias("n_rows"),
                 (F.col("__n") - F.col(f"{c}__nn")).alias("n_nulls"),
                 F.col(f"{c}__nd").cast("long").alias("n_distinct"),
                 F.col(f"{c}__min").alias("min_value"),
                 F.col(f"{c}__max").alias("max_value"),
                 F.col(f"{c}__al").alias("avg_len"))
        for c in cols])
    return (row.select(F.explode(panels).alias("p")).select("p.*"))


#: add-alpha smoothing of ``distribution_drift``'s bucket shares
DRIFT_ALPHA = 0.5


def distribution_drift(reference: DataFrame, current: DataFrame,
                       key) -> DataFrame:
    """Per-bucket distribution drift between two corpus snapshots —
    PSI (population stability index, the model-monitoring standard)
    and KL divergence contributions over a categorical key (language,
    source domain, quality bucket, tokenizer id, or a ``histogram``
    bucket for numerics).

    ``key`` is a column name or Column evaluated on BOTH frames. Per
    bucket b with add-α smoothing (α = ``DRIFT_ALPHA``) over the UNION
    of observed buckets (so a bucket present on one side only cannot
    divide by zero, and the totals still sum to 1):

        p_b = (n_ref_b + α) / (N_ref + α·B)
        q_b = (n_cur_b + α) / (N_cur + α·B)
        psi_b = (q_b − p_b) · ln(q_b / p_b)      [always >= 0]
        kl_b  = q_b · ln(q_b / p_b)

    Output: ``(bucket, n_ref, n_cur, p_ref, p_cur, psi, kl)`` — one
    row per observed bucket (the QA view: WHICH strata moved); sum
    ``psi`` for the headline index (rule of thumb: < 0.1 stable,
    > 0.25 investigate). All ratios/logs round to 6 (the cross-engine
    recipe); ln ratios difference as two 6-rounded lns like
    ``dsir_select``'s bucket models.

    Scale shape: ONE map-side-combined count per side (shuffle = one
    combiner row per bucket per task), a bucket-cardinality full-outer
    join, totals as 1-row broadcasts. Corpus rows never shuffle.
    """
    kc = F.col(key) if isinstance(key, str) else key
    r = (reference.select(kc.alias("bucket"))
         .groupBy("bucket").agg(F.count("*").alias("n_ref")))
    c = (current.select(kc.alias("bucket"))
         .groupBy("bucket").agg(F.count("*").alias("n_cur")))
    j = (r.join(c, "bucket", "full_outer")
         .select("bucket",
                 F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
                 F.coalesce("n_cur", F.lit(0)).alias("n_cur")))
    alpha = DRIFT_ALPHA
    tot = j.agg(F.sum("n_ref").alias("__tr"),
                F.sum("n_cur").alias("__tc"),
                F.count("*").alias("__b"))
    p = F.round((F.col("n_ref") + alpha)
                / (F.col("__tr") + alpha * F.col("__b")), 6)
    q = F.round((F.col("n_cur") + alpha)
                / (F.col("__tc") + alpha * F.col("__b")), 6)
    out = (j.join(F.broadcast(tot))
           .select("bucket", "n_ref", "n_cur",
                   p.alias("p_ref"), q.alias("p_cur")))
    lr = F.round(F.log("p_cur"), 6) - F.round(F.log("p_ref"), 6)
    return out.select(
        "bucket", "n_ref", "n_cur", "p_ref", "p_cur",
        F.round((F.col("p_cur") - F.col("p_ref")) * lr, 6).alias("psi"),
        F.round(F.col("p_cur") * lr, 6).alias("kl"))


#: scale factor making MAD a consistent sigma estimator under normality
MAD_SIGMA = 1.4826
#: robust sigmas beyond the median that flag an outlier
MAD_K = 3.5


def robust_outliers(df: DataFrame, ts_col: str, group_cols: list[str],
                    value_col: str) -> DataFrame:
    """Per-day robust anomaly flags: a value is an outlier when
    its absolute deviation from the day's median exceeds ``MAD_K`` robust
    sigmas (median absolute deviation × 1.4826 — Iglewicz & Hoaglin's
    modified z-score, the standard ingestion-drift detector; mean/stddev
    would let the outliers it hunts drag the threshold toward
    themselves).

    Two-pass by necessity (MAD needs the median first), but both passes
    are exact-percentile aggregations keyed on the SAME
    ``(group, bucket)`` — two shuffles of per-group rows, and the
    per-group median/MAD relations (|groups × buckets| rows) broadcast
    back onto the fact rows, so the fact table is never re-shuffled for
    the joins. Medians are interpolated (type R-7), matching DuckDB's
    ``quantile_cont`` for the oracle.

    Output: input columns + ``bucket``, ``med``, ``mad``, ``is_outlier``
    (med/mad rounded to 6).

    Non-finite contract (r9 contract fuzz): a NaN/±Inf measure is
    unscorable and behaves exactly like a NULL one — excluded from the
    median and MAD statistics, row kept with ``is_outlier`` NULL. (The
    engines disagree on NaN percentile mechanics, and one Inf would
    poison every deviation in its bucket.)
    """
    from pyspark.sql.functions import broadcast

    bucket = F.date_trunc("day", F.col(ts_col)).alias("bucket")
    keys = group_cols + ["bucket"]
    v = F.col(value_col)
    if isinstance(df.schema[value_col].dataType,
                  (Ty.FloatType, Ty.DoubleType)):
        # Spark orders NaN above +Inf, so the open interval nulls all 3
        v = F.when((v > float("-inf")) & (v < float("inf")), v)
    b = df.withColumn("bucket", bucket).withColumn("__v", v)
    med = (b.groupBy(*keys)
           .agg(F.percentile(F.col("__v"), 0.5).alias("med")))
    dev = b.join(broadcast(med), keys)
    mad = (dev.groupBy(*keys)
           .agg(F.percentile(F.abs(F.col("__v") - F.col("med")), 0.5)
                .alias("mad")))
    out = dev.join(broadcast(mad), keys)
    return out.select(
        *df.columns, "bucket",
        F.round("med", 6).alias("med"), F.round("mad", 6).alias("mad"),
        (F.abs(F.col("__v") - F.col("med"))
         > F.lit(MAD_K) * F.lit(MAD_SIGMA) * F.col("mad")).alias("is_outlier"))


def _mcast(col: F.Column, dec: str) -> F.Column:
    """Moment-accumulator cast: domain-guarded decimal on the exact
    path (r12 extreme-rate contract — see util.DEC6_DOMAIN), plain
    double on the fast path (inf/NaN propagate, as the _fast twins
    state)."""
    return dec6(col) if dec.startswith("decimal") else col.cast("double")


def correlation_matrix(df: DataFrame, cols: list[str],
                       exact: bool = True) -> DataFrame:
    """Pairwise Pearson correlation over numeric columns in ONE
    single-pass aggregation — the feature-screening panel (redundant
    features, leakage suspects) computed without |cols| separate jobs
    or any `VectorAssembler` detour: all Σx, Σx², Σxy moments fold into
    one map-side-combined agg over one scan, and the |cols|² output is
    driver-scale.

    Cross-engine exactness: per-row products round to 6 and sum in
    ``decimal(38,6)`` (exact, order-independent), and the Pearson
    formula then evaluates in double from those exact moments, rounded
    to 6 — the same recipe as every decimal-routed aggregate here.
    NULL rows are the caller's problem (filter first): moment sums
    treat NULL as absent which would skew pairwise counts.

    Output: one row per ordered pair ``col_a < col_b`` —
    ``(col_a, col_b, n, r)``.

    ``exact=False`` swaps the decimal moment accumulators for plain
    doubles — ~4× faster on the measured 14-moment panel (BigDecimal
    adds dominate; 0.8 s vs 3.1 s per 8 moments over 600k rows) at the
    cost of last-ulp reassociation drift, which can flip the rounded
    6th digit near ties. The default stays exact because the oracle
    contract (and any audit that diffs panels across runs) needs
    bit-stable output; flip it for interactive exploration at scale.

    Plan shape (r13): every guarded moment TERM is hoisted into a
    projection below the aggregate and the aggregate sums plain
    columns. Same values by construction (identical expressions, moved
    from the agg children into a child select), but the when/abs/
    try_cast chains run in whole-stage-codegen projection — where
    subexpression elimination dedups the shared ``round(x*y, 6)`` —
    instead of per-update inside the hash-agg functions (measured
    13.4 s → 9.4 s on the 14-moment sf0.1 panel).
    """
    if len(cols) < 2:
        raise ValueError("correlation_matrix needs >= 2 columns")
    dec = "decimal(38,6)" if exact else "double"
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    names = ([f"{c}__{suf}" for c in cols for suf in ("s", "ss")]
             + [f"{a}__{b}__sp" for a, b in pairs])
    proj: list = []
    for c in cols:
        x = F.col(c)
        proj.append(_mcast(x, dec).alias(f"{c}__s"))
        proj.append(_mcast(F.round(x * x, 6), dec).alias(f"{c}__ss"))
    for a, b in pairs:
        proj.append(_mcast(F.round(F.col(a) * F.col(b), 6), dec)
                    .alias(f"{a}__{b}__sp"))
    terms = df.select(*proj)
    row = terms.agg(F.count(F.lit(1)).alias("__n"),
                    *[F.sum(F.col(n)).alias(n) for n in names])
    n = F.col("__n").cast("double")

    def _r(a: str, b: str) -> F.Column:
        sx = F.col(f"{a}__s").cast("double")
        sy = F.col(f"{b}__s").cast("double")
        sxx = F.col(f"{a}__ss").cast("double")
        syy = F.col(f"{b}__ss").cast("double")
        sxy = F.col(f"{a}__{b}__sp").cast("double")
        num = n * sxy - sx * sy
        den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        return F.round(num / F.nullif(den, F.lit(0.0)), 6)

    panels = F.array(*[
        F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                 F.col("__n").alias("n"), _r(a, b).alias("r"))
        for a, b in pairs])
    return row.select(F.explode(panels).alias("p")).select("p.*")


def standardize(df: DataFrame, cols: list[str],
                exact: bool = True) -> DataFrame:
    """Feature scaling for ML preprocessing: the z-score (x−μ)/σ per column,
    appended as ``<col>__scaled``. ONE stats aggregation over one scan; the
    1-row stats relation attaches as a literal-free broadcast (crossJoin of
    a single aggregated row — the standard scalar-attach shape), so the fact
    table is never shuffled. Zero-variance/constant columns scale to NULL,
    not a division error. Means/σ are decimal-routed and the per-row result
    rounds to 6 — deterministic cross-engine.

    σ is the POPULATION standard deviation (``/n``): scaling is a
    transform, not an inference; both engines compute it from the same
    exact decimal moments.
    """
    # exact=False: double moments, ~4x faster, last-ulp drift — see
    # correlation_matrix's docstring for the measured tradeoff; the
    # guarded terms are hoisted into a projection below the agg for the
    # same codegen/CSE reason (r13)
    dec = "decimal(38,6)" if exact else "double"
    proj: list = []
    names: list = []
    for c in cols:
        x = F.col(c)
        proj += [_mcast(x, dec).alias(f"{c}__s"),
                 _mcast(F.round(x * x, 6), dec).alias(f"{c}__ss")]
        names += [f"{c}__s", f"{c}__ss"]
    stats = df.select(*proj).agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(F.col(n)).alias(n) for n in names])
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        x = F.col(c).cast("double")
        n = F.col("__n").cast("double")
        mu = F.col(f"{c}__s").cast("double") / n
        var = (F.col(f"{c}__ss").cast("double") / n) - mu * mu
        # E[x²]−μ² from independently-rounded decimal moments can go
        # microscopically negative on constant columns (>6 decimal
        # digits) → sqrt = NaN instead of the promised NULL path.
        sigma = F.sqrt(F.greatest(var, F.lit(0.0)))
        scaled = F.round((x - mu) / F.nullif(sigma, F.lit(0.0)), 6)
        # out-of-domain x receives no scaled value (r12 extreme dial):
        # it carries no exact statistics — and round-to-6 of a 1e30
        # z-score differs between engines in the last ulp anyway
        from zacks_estimates_financial_statements_spark.util import DEC6_DOMAIN
        scaled = F.when(F.abs(x) < F.lit(DEC6_DOMAIN), scaled)
        out = out.withColumn(f"{c}__scaled", scaled)
    return out.drop("__n", *names)


def value_histogram(df: DataFrame, value_col: str, lo: float, hi: float,
                    n_bins: int = 10,
                    group_cols: list[str] | None = None) -> DataFrame:
    """Equi-width histogram of ``value_col`` (optionally per group):
    one bucket projection + one map-side-combined count — the
    profiling companion for distribution drift that ``profile_table``'s
    min/max cannot see. Out-of-range values land in underflow (0) /
    overflow (``n_bins+1``) buckets — SQL ``width_bucket`` semantics,
    but computed with an EXPLICIT floor formula rather than the
    builtin: DuckDB has no ``width_bucket``, and the oracle contract
    needs byte-identical arithmetic on both sides, not two engines'
    private edge-case choices. Output: group cols + ``bucket, bin_lo,
    bin_hi, n``.
    """
    if n_bins < 1 or not hi > lo:
        raise ValueError("need n_bins >= 1 and hi > lo")
    groups = group_cols or []
    v = F.col(value_col).cast("double")
    scaled = F.floor((v - F.lit(float(lo))) * F.lit(float(n_bins))
                     / (F.lit(float(hi)) - F.lit(float(lo))))
    b = (F.when(v < lo, F.lit(0))
         .when(v >= hi, F.lit(n_bins + 1))
         .otherwise(scaled + 1)).cast("int")
    width = (hi - lo) / n_bins
    out = (df.select(*groups, b.alias("bucket"))
           .groupBy(*groups, "bucket")
           .agg(F.count(F.lit(1)).alias("n")))
    bin_lo = F.when((F.col("bucket") >= 1) & (F.col("bucket") <= n_bins),
                    F.round(F.lit(lo) + (F.col("bucket") - 1)
                            * F.lit(width), 6))
    bin_hi = F.when((F.col("bucket") >= 1) & (F.col("bucket") <= n_bins),
                    F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6))
    return out.select(*groups, "bucket", bin_lo.alias("bin_lo"),
                      bin_hi.alias("bin_hi"), "n")


def embedding_diversity(df: DataFrame, vec_col: str,
                        strata_col: str | None = None) -> DataFrame:
    """Per-stratum embedding-set diversity WITHOUT materializing a
    single pair: the mean pairwise squared L2 distance has the moment
    identity ``E_{i≠j}|x_i−x_j|² = 2·n/(n−1)·(mean|x|² − |mean x|²)``
    (expand the square; cross terms collapse to the centroid) — so a
    metric that is literally quadratic in its definition computes as
    ONE token-linear aggregation. Low diversity = a collapsed /
    near-duplicate-heavy stratum; the standard audit next to SemDeDup
    (Abbas et al. 2023 report exactly this collapse signal).

    Output per stratum: ``(stratum, n, mean_norm_sq, centroid_norm_sq,
    mean_pairwise_sq)`` — NULL diversity for strata with < 2 vectors.
    NULL vectors drop out.

    Determinism (cross-engine recipe): elements round to 6 →
    per-element squares round to 6 → both sums ride
    ``decimal(38,6)``; per-dimension centroid means divide in double,
    round to 6, square, round to 6, and re-sum as decimal.

    Plan shape: one posexplode of the vectors into ``(stratum, dim,
    v)`` rows, ONE map-side-combined (stratum, dim) aggregation
    (cardinality = |strata| × dims), then a |strata|-row roll-up and
    an equi-join with the per-stratum counts. No pair join exists at
    any scale.
    """
    stratum = (F.col(strata_col) if strata_col is not None
               else F.lit("all")).alias("stratum")
    base = (df.filter(F.col(vec_col).isNotNull())
            .select(stratum, F.col(vec_col).cast("array<double>")
                    .alias("__v")))
    counts = base.groupBy("stratum").agg(F.count("*").alias("n"))
    # guarded decimal terms hoisted into the projection (r13 — same
    # codegen/CSE rationale as correlation_matrix): the agg sums plain
    # decimal columns
    ex = (base.select("stratum",
                      F.posexplode("__v").alias("__d", "__x"))
          .select("stratum", "__d",
                  F.round("__x", 6).alias("__x6"))
          .select("stratum", "__d",
                  dec6(F.col("__x6")).alias("__t1"),
                  dec6(F.round(F.col("__x6") * F.col("__x6"), 6))
                  .alias("__t2")))
    per_dim = (ex.groupBy("stratum", "__d")
               .agg(F.sum(F.col("__t1")).alias("__s1"),
                    F.sum(F.col("__t2")).alias("__s2")))
    rolled = (per_dim.join(counts, "stratum")
              .select("stratum", "n",
                      F.col("__s2"),
                      dec6(F.round(F.pow(
                          F.round(F.col("__s1").cast("double")
                                  / F.col("n"), 6), 2), 6)).alias("__musq"))
              .groupBy("stratum", "n")
              .agg(F.round(F.sum("__s2").cast("double") / F.col("n"), 6)
                   .alias("mean_norm_sq"),
                   F.round(F.sum("__musq").cast("double"), 6)
                   .alias("centroid_norm_sq")))
    return rolled.select(
        "stratum", "n", "mean_norm_sq", "centroid_norm_sq",
        F.when(F.col("n") >= 2, F.round(
            2.0 * (F.col("mean_norm_sq") - F.col("centroid_norm_sq"))
            * F.col("n") / (F.col("n") - 1), 6))
        .alias("mean_pairwise_sq"))


def k_anonymity(df: DataFrame, quasi_cols: list[str],
                k: int = 5) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns (Sweeney 2002
    — the release-gate check before publishing per-record metadata):
    every row annotated with its equivalence-class size (rows sharing
    its exact quasi-identifier combination, NULLs grouped as a value)
    and ``k_anonymous`` = class_size ≥ k. Rows in small classes are
    the re-identification risk; callers suppress or generalize them.

    Output: the input columns plus ``(class_size, k_anonymous)``.

    Plan shape: ONE map-side-combined groupBy over the
    quasi-identifier key to class sizes, then an equi-join back on
    the same key — the second shuffle reuses the first's partitioning
    (Catalyst aligns both sides on the identical key), and a heavily
    duplicated class is a hot GROUP not a hot window: the count
    combines map-side, so skew in identifiers does not straggle. No
    window over the corpus, no driver collect.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must name at least one column")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    left = df.alias("__ka_l")
    sizes = (df.groupBy(*quasi_cols)
             .agg(F.count("*").alias("class_size"))
             .alias("__ka_s"))
    # NULL-safe key equality: a plain equi-join would silently drop
    # every row whose quasi-identifier tuple contains a NULL — the
    # exact rows a privacy audit most needs to see (NULL groups are
    # themselves equivalence classes). <=> keys still hash-join.
    cond = None
    for c in quasi_cols:
        this = F.col(f"__ka_l.{c}").eqNullSafe(F.col(f"__ka_s.{c}"))
        cond = this if cond is None else (cond & this)
    out = (left.join(sizes, cond)
           .select(*[F.col(f"__ka_l.{c}") for c in df.columns],
                   "class_size"))
    return out.withColumn("k_anonymous", F.col("class_size") >= k)
