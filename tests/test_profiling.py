"""Table profiler: single-pass panel correctness, unsupported-type
tolerance, and drift flagging."""

from __future__ import annotations

from zacks_estimates_financial_statements_spark.operators import profiling


def _by_col(df):
    return {r["column"]: r.asDict() for r in df.collect()}


def test_profile_table_panel(spark):
    df = spark.createDataFrame(
        [(1, "aa", 1.5, [1, 2]),
         (2, None, 2.25, []),
         (3, "bbbb", None, None),
         (3, "aa", -0.5, [9])],
        "id long, s string, v double, arr array<int>")
    p = _by_col(profiling.profile_table(df, exact=True))
    assert set(p) == {"id", "s", "v", "arr"}
    assert all(r["n_rows"] == 4 for r in p.values())
    assert (p["id"]["n_nulls"], p["id"]["n_distinct"]) == (0, 3)
    assert (p["id"]["min_value"], p["id"]["max_value"]) == ("1", "3")
    assert (p["s"]["n_nulls"], p["s"]["n_distinct"]) == (1, 2)
    assert p["s"]["avg_len"] == round((2 + 4 + 2) / 3, 6)
    assert (p["v"]["min_value"], p["v"]["max_value"]) == ("-0.5", "2.25")
    # unsupported type: null count only, everything else NULL, no error
    assert p["arr"]["n_nulls"] == 1
    assert p["arr"]["n_distinct"] is None
    assert p["arr"]["min_value"] is None and p["arr"]["avg_len"] is None


def test_profile_table_single_shuffle(spark):
    """The whole panel must be ONE aggregation over one scan — no
    per-column jobs, no join of partial profiles."""
    df = spark.createDataFrame([(1, "x", 0.5)], "a long, b string, c double")
    plan = (profiling.profile_table(df)  # default approx mode
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1 and "Join" not in plan


def test_profile_table_exact_rejects_nondeterministic_input(spark):
    """The exact panel scans its input twice and joins the two 1-row
    aggregates on their row counts. A filter whose kept rows differ per
    scan (a non-deterministic UDF keyed on the stage id) must fail the
    job loudly, not return an empty profile; the rejoin must stay a
    broadcast hash join."""
    import pytest
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    @F.udf("boolean")
    def kept(x):
        # each scan runs in its own stage: the two counts differ
        return x < TaskContext.get().stageId() % 1000

    df = (spark.range(1000).coalesce(1)
          .filter(kept.asNondeterministic()(F.col("id"))))
    prof = profiling.profile_table(df, exact=True)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "NestedLoop" not in plan
    with pytest.raises(Exception, match="non-deterministic input"):
        prof.collect()


def test_robust_outliers_flags_planted_anomaly(spark):
    """A single wild value in an otherwise tight bucket is flagged; the
    tight values are not; MAD is immune to the outlier itself (a
    mean/stddev detector would have its threshold dragged)."""
    import datetime

    from zacks_estimates_financial_statements_spark.operators import profiling

    base = datetime.datetime(2024, 5, 1, 12, 0)
    rows = [(i, base, "m", 10.0 + (i % 5) * 0.1) for i in range(20)]
    rows.append((99, base, "m", 10_000.0))          # the anomaly
    rows.append((100, base + datetime.timedelta(days=1), "m", 10_000.0))
    # day 2 has ONE value: med = the value itself, MAD = 0 -> not flagged
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, g string, value double")
    out = {r["event_id"]: r for r in profiling.robust_outliers(
        df, "ts", ["g"], "value").collect()}
    assert out[99]["is_outlier"] is True
    assert all(out[i]["is_outlier"] is False for i in range(20))
    assert out[100]["is_outlier"] is False and out[100]["mad"] == 0.0
    assert out[0]["med"] == 10.2  # median of the tight cluster, not dragged


def test_correlation_matrix_known_values(spark):
    """Exact correlations on constructed columns: r=1 for a linear
    transform, r=-1 for a negated one, r≈0 for orthogonal patterns;
    single-Exchange plan; degenerate zero-variance column yields NULL."""
    import pytest
    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.operators import profiling

    df = spark.range(64).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") * 2 + 3).cast("double").alias("y"),
        (-F.col("id")).cast("double").alias("z"),
        F.when(F.col("id") % 2 == 0, 1.0).otherwise(-1.0).alias("alt"),
        F.lit(5.0).alias("const"))
    out = {(r["col_a"], r["col_b"]): r["r"] for r in
           profiling.correlation_matrix(
               df, ["x", "y", "z", "alt", "const"]).collect()}
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert abs(out[("x", "alt")]) < 0.05
    assert out[("x", "const")] is None          # zero variance -> NULL
    assert all(r is None or -1.0 <= r <= 1.0 for r in out.values())

    plan = (profiling.correlation_matrix(df, ["x", "y"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1

    with pytest.raises(ValueError):
        profiling.correlation_matrix(df, ["x"])


def test_standardize_and_histogram(spark):
    import pytest
    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.operators import profiling

    df = spark.createDataFrame(
        [(1, 0.0, 5.0), (2, 10.0, 5.0), (3, 20.0, 5.0)],
        "id long, x double, c double")
    z = {r["id"]: r for r in profiling.standardize(
        df, ["x", "c"]).collect()}
    # mean 10, population sigma sqrt(200/3); symmetric scores
    assert z[1]["x__scaled"] == -z[3]["x__scaled"] != 0
    assert z[2]["x__scaled"] == 0.0
    assert z[1]["c__scaled"] is None            # zero variance

    h = spark.createDataFrame(
        [("a", -5.0), ("a", 5.0), ("a", 15.0), ("a", 15.0),
         ("b", 105.0)], "g string, v double")
    got = {(r["g"], r["bucket"]): r for r in profiling.value_histogram(
        h, "v", 0.0, 100.0, 10, group_cols=["g"]).collect()}
    assert got[("a", 0)]["n"] == 1              # underflow
    assert got[("a", 0)]["bin_lo"] is None
    assert got[("a", 1)]["n"] == 1
    assert got[("a", 2)]["n"] == 2
    assert (got[("a", 2)]["bin_lo"], got[("a", 2)]["bin_hi"]) == (10.0, 20.0)
    assert got[("b", 11)]["n"] == 1             # overflow
    with pytest.raises(ValueError):
        profiling.value_histogram(h, "v", 5.0, 5.0, 10)


# ------------------------------------------------------ distribution drift

def test_distribution_drift_psi_kl_math_and_union_buckets(spark):
    import math

    from zacks_estimates_financial_statements_spark.operators import profiling

    ref = spark.createDataFrame([("a",)] * 60 + [("b",)] * 40,
                                "lang string")
    cur = spark.createDataFrame([("a",)] * 40 + [("b",)] * 55
                                + [("c",)] * 5, "lang string")
    got = {r["bucket"]: r for r in profiling.distribution_drift(
        ref, cur, "lang").collect()}
    assert set(got) == {"a", "b", "c"}
    assert (got["c"]["n_ref"], got["c"]["n_cur"]) == (0, 5)
    # replicate the operator's documented smoothing/rounding exactly
    B, a = 3, 0.5
    for b, (nr, nc) in {"a": (60, 40), "b": (40, 55),
                        "c": (0, 5)}.items():
        p = round((nr + a) / (100 + a * B), 6)
        q = round((nc + a) / (100 + a * B), 6)
        lr = round(math.log(q), 6) - round(math.log(p), 6)
        assert got[b]["p_ref"] == p and got[b]["p_cur"] == q
        assert got[b]["psi"] == round((q - p) * lr, 6)
        assert got[b]["kl"] == round(q * lr, 6)
        assert got[b]["psi"] >= 0.0  # psi contributions are nonneg
    # identical distributions -> zero drift everywhere
    same = profiling.distribution_drift(ref, ref, "lang").collect()
    assert all(r["psi"] == 0.0 and r["kl"] == 0.0 for r in same)


# -------------------------------------------------------- embedding diversity

def test_embedding_diversity_matches_bruteforce(spark):
    import itertools
    import random

    rng = random.Random(11)
    rows = [("g" + str(i % 2), [round(rng.uniform(-1, 1), 3)
                                for _ in range(4)]) for i in range(9)]
    df = spark.createDataFrame(rows, "g string, v array<double>")
    out = {r["stratum"]: r for r in profiling.embedding_diversity(
        df, "v", "g").collect()}
    for g in ("g0", "g1"):
        vecs = [v for gg, v in rows if gg == g]
        pairs = [sum((a - b) ** 2 for a, b in zip(x, y))
                 for x, y in itertools.combinations(vecs, 2)]
        brute = sum(pairs) / len(pairs)
        assert abs(out[g]["mean_pairwise_sq"] - brute) < 1e-4, g
        assert out[g]["n"] == len(vecs)


def test_embedding_diversity_degenerate_strata(spark):
    df = spark.createDataFrame(
        [("solo", [1.0, 2.0]), ("dup", [3.0, 4.0]), ("dup", [3.0, 4.0]),
         ("null", None)],
        "g string, v array<double>")
    out = {r["stratum"]: r for r in profiling.embedding_diversity(
        df, "v", "g").collect()}
    assert out["solo"]["mean_pairwise_sq"] is None     # n < 2
    assert out["dup"]["mean_pairwise_sq"] == 0.0       # identical vectors
    assert "null" not in out                           # null vec dropped
    # ungrouped variant: one 'all' row
    allrow = profiling.embedding_diversity(df, "v").collect()
    assert len(allrow) == 1 and allrow[0]["stratum"] == "all" \
        and allrow[0]["n"] == 3


# ----------------------------------------------------------------- k-anonymity

def test_k_anonymity_class_sizes_and_null_groups(spark):
    rows = [(1, "en", "a"), (2, "en", "a"), (3, "en", "a"),
            (4, "fr", "a"), (5, None, "a"), (6, None, "a")]
    df = spark.createDataFrame(rows, "id bigint, lang string, src string")
    out = {r["id"]: r for r in profiling.k_anonymity(
        df, ["lang", "src"], k=2).collect()}
    assert len(out) == 6                      # NULL rows NOT dropped
    assert out[1]["class_size"] == 3 and out[1]["k_anonymous"]
    assert out[4]["class_size"] == 1 and not out[4]["k_anonymous"]
    # the NULL lang rows form their own equivalence class of size 2
    assert out[5]["class_size"] == 2 and out[5]["k_anonymous"]


def test_k_anonymity_multi_column_key(spark):
    rows = [(1, "en", 1), (2, "en", 1), (3, "en", 2)]
    df = spark.createDataFrame(rows, "id bigint, lang string, b int")
    out = {r["id"]: r["class_size"] for r in profiling.k_anonymity(
        df, ["lang", "b"], k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 1}
