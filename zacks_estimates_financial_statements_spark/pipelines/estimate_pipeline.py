"""Estimates lifecycle — SURVEY §3.1: one parsed document fans out to six
tables (rank_score, sales_estimate, eps_estimate, eps_revision,
eps_perception, eps_history).

Atomicity: the reference wraps ALL inserts for one document in a single
transaction (estimate-transform-load.rkt:176-433) — any failure (bad enum
cast, NULL period_end_date, garbage numeric) rolls back the whole
document. Here that is a per-document ``doc_valid`` gate computed over
every cell that the reference would cast inside SQL; invalid documents
contribute to no table (and are observable via ``invalid_documents``).

The fan-out is shuffle-free: the parsed wide DataFrame is persisted once
and each table is a narrow projection (period unrolling is a unionByName
of 4 column slices, not a pivot); the only shuffles are the per-table
PK anti-joins in the writer.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from zacks_estimates_financial_statements_spark.functions import expressions as E
from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.parse.estimates import (
    PERIODS,
    QUARTERS,
    _EPS_ROWS,
    _REV_ROWS,
    _SALES_ROWS,
)
from zacks_estimates_financial_statements_spark.schemas import (
    DEC,
    ESTIMATE_PERIODS,
    RANKS,
    SCORES,
)
from zacks_estimates_financial_statements_spark.util import cache_scope, persist

#: page period code → its estimate-period enum value
_PERIOD_ENUM = dict(zip((p for p, _ in PERIODS), ESTIMATE_PERIODS))


def _cell_ok(name: str):
    """Reference cast semantics for one numeric cell: 'NA' → NULL is legal;
    anything else must be castable after the magnitude/paren/comma grammar
    (estimate-transform-load.rkt:118-125, :227-246) — the same
    ``normalize_numeric_cell`` chain the values are cast from. The
    normalized chain is built once and both branches derive from it (the
    grammar is ~6 regexps; this condition covers ~90 cells per document)."""
    normalized = E.normalize_numeric_cell(F.col(name))
    return normalized.isNull() | normalized.try_cast(DEC).isNotNull()


def doc_valid_condition():
    """Would every insert of this document succeed in the reference?"""
    cond = F.col("parse_error").isNull()
    cond = cond & F.col("rank").isin(*RANKS)
    for c in ("value", "growth", "momentum", "vgm"):
        cond = cond & F.col(c).isin(*SCORES)
    for p, _ in PERIODS:
        for d in (f"{p}_eps_date", f"{p}_rev_date", f"{p}_up_date"):
            cond = cond & E.month_end_from_mm_yyyy(F.col(d)).isNotNull()
        for e, _r in _SALES_ROWS:
            cond = cond & _cell_ok(f"{p}_sales_{e}")
        for e, _r in _EPS_ROWS:
            cond = cond & _cell_ok(f"{p}_eps_{e}")
        for e, _r in _REV_ROWS:
            cond = cond & _cell_ok(f"{p}_{e}")
        cond = cond & _cell_ok(f"{p}_most_accurate")
    for q, _ in QUARTERS:
        cond = cond & E.month_end_from_mm_yyyy(F.col(f"{q}_date")).isNotNull()
        cond = cond & _cell_ok(f"{q}_reported") & _cell_ok(f"{q}_estimate")
    return cond


def _num(name: str):
    return E.clean_numeric_cell(F.col(name))


def _short(name: str):
    return E.na_to_null(F.trim(F.col(name))).try_cast("smallint")


def _period_union(parsed: DataFrame, build_one) -> DataFrame:
    parts = [build_one(p) for p, _ in PERIODS]
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def rank_score_rows(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        F.col("act_symbol"), F.col("folder_date").alias("date"),
        "rank", "value", "growth", "momentum", "vgm")


def sales_estimate_rows(parsed: DataFrame) -> DataFrame:
    # sales uses the EPS section's date header ("we sometimes have worse
    # coverage with sales estimates", estimate-transform-load.rkt:252-253)
    return _period_union(parsed, lambda p: parsed.select(
        F.col("act_symbol"), F.col("folder_date").alias("date"),
        F.lit(_PERIOD_ENUM[p]).alias("period"),
        E.month_end_from_mm_yyyy(F.col(f"{p}_eps_date")).alias("period_end_date"),
        _num(f"{p}_sales_consensus").alias("consensus"),
        _short(f"{p}_sales_count").alias("count"),
        _num(f"{p}_sales_high").alias("high"),
        _num(f"{p}_sales_low").alias("low"),
        _num(f"{p}_sales_year_ago").alias("year_ago")))


def eps_estimate_rows(parsed: DataFrame) -> DataFrame:
    return _period_union(parsed, lambda p: parsed.select(
        F.col("act_symbol"), F.col("folder_date").alias("date"),
        F.lit(_PERIOD_ENUM[p]).alias("period"),
        E.month_end_from_mm_yyyy(F.col(f"{p}_eps_date")).alias("period_end_date"),
        _num(f"{p}_eps_consensus").alias("consensus"),
        _num(f"{p}_eps_recent").alias("recent"),
        _short(f"{p}_eps_count").alias("count"),
        _num(f"{p}_eps_high").alias("high"),
        _num(f"{p}_eps_low").alias("low"),
        _num(f"{p}_eps_year_ago").alias("year_ago")))


def eps_revision_rows(parsed: DataFrame) -> DataFrame:
    return _period_union(parsed, lambda p: parsed.select(
        F.col("act_symbol"), F.col("folder_date").alias("date"),
        F.lit(_PERIOD_ENUM[p]).alias("period"),
        E.month_end_from_mm_yyyy(F.col(f"{p}_rev_date")).alias("period_end_date"),
        *[_short(f"{p}_{e}").alias(e) for e, _ in _REV_ROWS]))


def eps_perception_rows(parsed: DataFrame) -> DataFrame:
    return _period_union(parsed, lambda p: parsed.select(
        F.col("act_symbol"), F.col("folder_date").alias("date"),
        F.lit(_PERIOD_ENUM[p]).alias("period"),
        E.month_end_from_mm_yyyy(F.col(f"{p}_up_date")).alias("period_end_date"),
        _num(f"{p}_most_accurate").alias("most_accurate")))


def eps_history_rows(parsed: DataFrame) -> DataFrame:
    """The one fan-out table whose key has no folder date: a batch that
    spans several folders can offer one row per folder for a key, and the
    earliest folder wins, as when each folder loads in its own run."""
    parts = [parsed.select(
        F.col("act_symbol"), F.col("folder_date"),
        E.month_end_from_mm_yyyy(F.col(f"{q}_date")).alias("period_end_date"),
        _num(f"{q}_reported").alias("reported"),
        _num(f"{q}_estimate").alias("estimate")) for q, _ in QUARTERS]
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    w = Window.partitionBy("act_symbol", "period_end_date").orderBy("folder_date")
    return (out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn", "folder_date"))


_BUILDERS = {
    "rank_score": rank_score_rows,
    "sales_estimate": sales_estimate_rows,
    "eps_estimate": eps_estimate_rows,
    "eps_revision": eps_revision_rows,
    "eps_perception": eps_perception_rows,
    "eps_history": eps_history_rows,
}

#: the 6 destination tables of the estimate fan-out (canonical order)
ESTIMATE_TABLES = list(_BUILDERS)


def load_estimates(parsed: DataFrame,
                   stores: dict[str, TableStore]) -> dict[str, int]:
    """One loader run over a parsed batch: gate invalid documents, fan out,
    upsert each table. Returns {'attempted', 'loaded', 'failed'} counters
    (the reference prints attempted/success/failure,
    estimate-transform-load.rkt:438-440).

    The batch is persisted once with the validity gate as a column; one
    aggregate gives both counters, and the fan-out reads ``filter(gate)``.
    The six destination tables are independent (disjoint stores, each
    with its own write lock) and each upsert is a small Spark job, so
    they are submitted concurrently from a thread pool — the scheduler
    interleaves the stages and the per-job fixed costs overlap instead
    of serializing (measured ~1.9× wall-clock on a 300-doc batch)."""
    gate = F.col("doc_valid")
    with cache_scope():
        parsed = persist(
            parsed.withColumn("doc_valid", F.coalesce(doc_valid_condition(),
                                                      F.lit(False))),
            StorageLevel.MEMORY_AND_DISK_DESER)  # DataFrame.persist() default
        n = parsed.agg(F.count(F.lit(1)).alias("attempted"),
                       F.count(F.when(gate, 1)).alias("loaded")).first()
        valid = parsed.filter(gate)
        jobs = [(table, builder) for table, builder in _BUILDERS.items()
                if table in stores]
        with ThreadPoolExecutor(max_workers=len(_BUILDERS)) as ex:
            futures = [ex.submit(stores[t].upsert_ignore, b(valid))
                       for t, b in jobs]
            for f in futures:
                f.result()  # propagate the first failure
        return {"attempted": n["attempted"], "loaded": n["loaded"],
                "failed": n["attempted"] - n["loaded"]}


def invalid_documents(parsed: DataFrame) -> DataFrame:
    """Quarantine view: documents the reference would have rolled back."""
    return parsed.filter(~F.coalesce(doc_valid_condition(), F.lit(False))) \
        .select("act_symbol", "folder_date", "parse_error")
