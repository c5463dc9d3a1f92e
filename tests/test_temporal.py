from __future__ import annotations

import datetime

import pytest

from zacks_estimates_financial_statements_spark.operators import temporal


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), "a"),
         (1, _ts("2024-01-01 11:00:00"), "b"),
         (1, _ts("2024-01-01 12:30:00"), "c"),
         (2, _ts("2024-01-01 09:00:00"), "d"),   # before any right row
         (3, _ts("2024-01-01 10:00:00"), "e")],  # key with no right rows
        ["k", "ts", "tag"])
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 09:30:00"), 10.0),
         (1, _ts("2024-01-01 11:00:00"), 20.0),   # equal-ts match for 'b'
         (1, _ts("2024-01-01 12:00:00"), 30.0),
         (2, _ts("2024-01-01 09:45:00"), 40.0)],
        ["k", "rts", "price"])
    return left, right


def test_asof_backward(sides):
    left, right = sides
    got = {r.tag: (r.price, r.matched_ts)
           for r in temporal.asof_join(left, right, "k", "ts", "rts")
           .collect()}
    assert got["a"] == (10.0, _ts("2024-01-01 09:30:00"))
    assert got["b"] == (20.0, _ts("2024-01-01 11:00:00"))  # inclusive
    assert got["c"] == (30.0, _ts("2024-01-01 12:00:00"))
    assert got["d"] == (None, None)    # right rows only in the future
    assert got["e"] == (None, None)    # key absent from right


def test_asof_one_row_per_left_row(sides):
    left, right = sides
    rows = temporal.asof_join(left, right, "k", "ts", "rts").collect()
    # as-of never amplifies: exactly one output row per left row
    assert len(rows) == left.count()
    got = {r.tag: r.price for r in rows}
    assert got == {"a": 10.0, "b": 20.0, "c": 30.0, "d": None, "e": None}


def test_asof_validation(sides):
    left, right = sides
    with pytest.raises(ValueError, match="collide"):
        temporal.asof_join(left, right.withColumnRenamed("price", "tag"),
                           "k", "ts", "rts")


def test_asof_matches_duckdb(spark, sides):
    """Cross-engine: the union-merge plan reproduces DuckDB ASOF JOIN."""
    import duckdb

    left, right = sides
    con = duckdb.connect()
    con.register("l", left.toPandas())
    con.register("r", right.toPandas())
    du = {t: (p, m) for t, p, m in con.execute(
        "SELECT l.tag, r.price, r.rts FROM l ASOF LEFT JOIN r "
        "ON l.k = r.k AND l.ts >= r.rts").fetchall()}
    sp = {r.tag: (r.price, r.matched_ts)
          for r in temporal.asof_join(left, right, "k", "ts", "rts")
          .collect()}
    assert sp == du


def test_asof_null_value_columns_stay_attached(spark):
    """A NULL in the MATCHED right row's value column must come through
    as NULL — not be back-filled from an older right row (the
    column-mixing bug of carrying each value column independently with
    last(ignorenulls)). Cross-checked against DuckDB ASOF."""
    import duckdb

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 12:00:00"), "x"),
         (1, _ts("2024-01-01 10:30:00"), "y")],
        ["k", "ts", "tag"])
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 10.0, "old"),
         # matched row for 'x': price is NULL, note is set
         (1, _ts("2024-01-01 11:00:00"), None, "new")],
        ["k", "rts", "price", "note"])
    out = {r.tag: (r.price, r.note, r.matched_ts)
           for r in temporal.asof_join(left, right, "k", "ts", "rts")
           .collect()}
    # 'x' matches the 11:00 row: its NULL price must NOT inherit 10.0
    assert out["x"] == (None, "new", _ts("2024-01-01 11:00:00"))
    assert out["y"] == (10.0, "old", _ts("2024-01-01 10:00:00"))

    con = duckdb.connect()
    con.register("l", left.toPandas())
    con.register("r", right.toPandas())
    du = {t: (p, n, m) for t, p, n, m in con.execute(
        "SELECT l.tag, r.price, r.note, r.rts FROM l ASOF LEFT JOIN r "
        "ON l.k = r.k AND l.ts >= r.rts").fetchall()}
    assert out == du


def test_hierarchical_rollup_matches_direct(spark):
    """Chained re-aggregation must equal direct per-level aggregation
    exactly (decimal sums make re-association lossless)."""
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [("a", _ts("2024-01-01 10:00:30"), 1.25),
         ("a", _ts("2024-01-01 10:00:45"), 2.50),
         ("a", _ts("2024-01-01 10:59:59"), 0.125),
         ("a", _ts("2024-01-01 23:59:59"), 4.00),
         ("b", _ts("2024-01-02 00:00:00"), 8.00)],
        ["event_type", "ts", "value"])
    out = temporal.hierarchical_rollup(
        ev, "ts", ["event_type"], "value",
        granularities=("minute", "hour", "day"))
    rows = out.collect()
    for g in ("minute", "hour", "day"):
        direct = {(r["event_type"], r["b"]): (r["n"], r["s"]) for r in
                  ev.groupBy("event_type",
                             F.date_trunc(g, "ts").alias("b"))
                  .agg(F.count("*").alias("n"),
                       F.sum(F.col("value").cast("decimal(38,6)"))
                       .alias("s")).collect()}
        got = {(r["event_type"], r["bucket"]): (r["n_events"],
                                               r["sum_value"])
               for r in rows if r["granularity"] == g}
        assert got == direct, g
    # row counts: 4 distinct minutes, 3 hours (10/23/00), 2 days
    by_g = {}
    for r in rows:
        by_g[r["granularity"]] = by_g.get(r["granularity"], 0) + 1
    assert by_g == {"minute": 4, "hour": 3, "day": 2}


def test_hierarchical_rollup_validation(spark):
    ev = spark.createDataFrame(
        [("a", _ts("2024-01-01 10:00:30"), 1.0)],
        ["event_type", "ts", "value"])
    with pytest.raises(ValueError, match="unknown granularity"):
        temporal.hierarchical_rollup(ev, "ts", ["event_type"], "value",
                                     granularities=("fortnight",))
    with pytest.raises(ValueError, match="monotonically"):
        temporal.hierarchical_rollup(ev, "ts", ["event_type"], "value",
                                     granularities=("hour", "minute"))
    with pytest.raises(ValueError, match="week"):
        temporal.hierarchical_rollup(ev, "ts", ["event_type"], "value",
                                     granularities=("week", "month"))


def test_asof_matched_ts_collision_rejected(spark, sides):
    left, right = sides
    with pytest.raises(ValueError, match="matched_ts_col"):
        temporal.asof_join(left.withColumnRenamed("tag", "matched_ts"),
                           right, "k", "ts", "rts")


def test_conversion_funnel_ordering_and_horizon(spark):
    """Steps must complete strictly in order (an early purchase before
    the click does not count), the horizon anchors at step 1, and depth
    reports the longest completed prefix."""
    import datetime

    import pytest

    from zacks_estimates_financial_statements_spark.operators import temporal

    D = datetime.datetime
    rows = [
        # user 1: full ordered funnel
        (1, "view", D(2024, 1, 1, 10)), (1, "click", D(2024, 1, 1, 11)),
        (1, "purchase", D(2024, 1, 1, 12)),
        # user 2: purchase BEFORE click -> depth 2 only
        (2, "view", D(2024, 1, 1, 10)), (2, "purchase", D(2024, 1, 1, 10, 30)),
        (2, "click", D(2024, 1, 1, 11)),
        # user 3: click outside the horizon -> depth 1
        (3, "view", D(2024, 1, 1, 10)), (3, "click", D(2024, 1, 9, 10)),
        # user 4: never viewed -> absent
        (4, "click", D(2024, 1, 1, 10)),
        # user 5: earliest chain wins (second view later is ignored)
        (5, "view", D(2024, 1, 1, 9)), (5, "view", D(2024, 1, 2, 9)),
        (5, "click", D(2024, 1, 1, 10)),
    ]
    ev = spark.createDataFrame(rows,
                               "user_id long, event_type string, ts timestamp")
    out = {r["user_id"]: r for r in temporal.conversion_funnel(
        ev, "user_id", "event_type", "ts",
        ["view", "click", "purchase"],
        horizon_seconds=7 * 86400).collect()}
    assert set(out) == {1, 2, 3, 5}
    assert out[1]["depth"] == 3
    assert out[2]["depth"] == 2 and out[2]["ts_3"] is None
    assert out[3]["depth"] == 1 and out[3]["ts_2"] is None
    assert out[5]["depth"] == 2
    assert out[5]["ts_1"] == D(2024, 1, 1, 9)   # earliest anchor

    with pytest.raises(ValueError):
        temporal.conversion_funnel(ev, "user_id", "event_type", "ts", [])


def test_retention_cohorts_hand_computed(spark):
    """Two weekly cohorts with known return patterns; offsets anchor at
    each cohort's own week and rates divide by cohort size."""
    import datetime

    import pytest

    from zacks_estimates_financial_statements_spark.operators import temporal

    D = datetime.datetime
    # week of Mon 2024-01-01 and Mon 2024-01-08 (UTC, Monday weeks)
    rows = [
        (1, D(2024, 1, 2)), (1, D(2024, 1, 9)), (1, D(2024, 1, 16)),
        (2, D(2024, 1, 3)), (2, D(2024, 1, 17)),         # skips week 1
        (3, D(2024, 1, 10)),                             # cohort 2, only w0
        (1, D(2024, 1, 2, 5)),                           # same-week dup
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = {(str(r["cohort"]), r["offset"]): (r["retained"], r["cohort_size"],
                                             r["rate"])
           for r in temporal.retention_cohorts(ev, "user_id", "ts",
                                               "week").collect()}
    w1, w2 = "2024-01-01 00:00:00", "2024-01-08 00:00:00"
    assert got[(w1, 0)] == (2, 2, 0.5 * 2)      # both cohort users
    assert got[(w1, 1)] == (1, 2, 0.5)          # only user 1 returned
    assert got[(w1, 2)] == (2, 2, 1.0)          # both back in week 3
    assert got[(w2, 0)] == (1, 1, 1.0)          # user 3's own cohort
    assert (w2, 1) not in got

    with pytest.raises(ValueError):
        temporal.retention_cohorts(ev, "user_id", "ts", "month")
