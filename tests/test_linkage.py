"""Blocked fuzzy join: recall guarantee for single edits, candidate
bounding (no cartesian), and deterministic best-match folding."""

from __future__ import annotations

from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.operators import linkage

CLEAN = ["golden retriever", "labrador puppy", "siamese cat",
         "persian cat", "parrot cage", "hamster wheel"]


def _clean_df(spark):
    return spark.createDataFrame(
        [(i, n) for i, n in enumerate(CLEAN)], "cid long, cname string")


def test_fuzzy_join_single_edit_full_recall(spark):
    """One substitution/deletion/insertion anywhere in a string of
    length >= 6 must be caught by the prefix-or-suffix block."""
    dirty = []
    for i, name in enumerate(CLEAN):
        for p in range(len(name)):
            dirty.append((i * 100 + p, name[:p] + name[p + 1:]))  # deletion
            dirty.append((i * 1000 + p, name[:p] + "#" + name[p:]))  # insert
    d = spark.createDataFrame(dirty, "did long, dname string")
    pairs = linkage.fuzzy_join(d, _clean_df(spark), "dname", "cname",
                               max_dist=1)
    got = {(r["did"], r["cid"]) for r in pairs.collect()}
    for i, name in enumerate(CLEAN):
        for p in range(len(name)):
            assert (i * 100 + p, i) in got, (name, p, "deletion missed")
            assert (i * 1000 + p, i) in got, (name, p, "insert missed")


def test_fuzzy_join_blocks_not_cartesian(spark):
    d = spark.createDataFrame([(0, "zzzzzz")], "did long, dname string")
    pairs = linkage.fuzzy_join(d, _clean_df(spark), "dname", "cname")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert pairs.count() == 0  # shares no block with anything


def test_best_match_deterministic_fold(spark):
    pairs = spark.createDataFrame(
        [(1, 10, 2), (1, 11, 1), (1, 12, 1),   # tie at dist 1 -> min id
         (2, 20, 0)],
        "did long, cid long, dist int")
    got = {r["did"]: (r["cid"], r["dist"], r["n_candidates"])
           for r in linkage.best_match(pairs, "did", "cid").collect()}
    assert got == {1: (11, 1, 3), 2: (20, 0, 1)}
