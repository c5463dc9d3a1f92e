"""Estimates lifecycle — SURVEY §3.1: one parsed document fans out to six
tables (rank_score, sales_estimate, eps_estimate, eps_revision,
eps_perception, eps_history).

Atomicity: the reference wraps ALL inserts for one document in a single
transaction (estimate-transform-load.rkt:176-433) — any failure (bad enum
cast, NULL period_end_date, garbage numeric) rolls back the whole
document. Here that is a per-document ``doc_valid`` gate computed over
every cell that the reference would cast inside SQL; invalid documents
contribute to no table (and are observable via ``invalid_documents``).

The cell grammar runs once per plan, not once per cell: ``typed_estimates``
applies each cell rule to an array of the page's cells with one
higher-order ``transform`` (F1-F5 + decimal cast, the smallint counts, the
F8 header dates), and the gate is a ``forall`` over the same normalized
array. The fan-out is shuffle-free: the typed row is persisted once and
each table is a narrow projection that stacks its four periods with
``inline`` of an array of per-period structs (not a pivot, not a union);
the only shuffles are the per-table PK anti-joins in the writer and
``eps_history``'s earliest-folder window.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame, Window
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
    TABLES,
)
from zacks_estimates_financial_statements_spark.util import cache_scope, persist

#: page period code → its estimate-period enum value
_PERIOD_ENUM = dict(zip((p for p, _ in PERIODS), ESTIMATE_PERIODS))

#: every numeric cell the reference casts inside an insert, in page order;
#: the count and revision cells are gated here too, but their values are
#: smallints cast from the raw cell (``_SHORT_CELLS``)
_NUMERIC_CELLS = [
    *[c for p, _ in PERIODS for c in (
        *[f"{p}_sales_{e}" for e, _ in _SALES_ROWS],
        *[f"{p}_eps_{e}" for e, _ in _EPS_ROWS],
        *[f"{p}_{e}" for e, _ in _REV_ROWS],
        f"{p}_most_accurate")],
    *[f"{q}_{e}" for q, _ in QUARTERS for e in ("reported", "estimate")],
]
#: the count and revision cells, whose values are smallints
_SHORT_CELLS = [c for p, _ in PERIODS for c in (
    f"{p}_sales_count", f"{p}_eps_count", *[f"{p}_{e}" for e, _ in _REV_ROWS])]
#: the "MM/YYYY" header cells, each a ``period_end_date``
_DATE_CELLS = [*[f"{p}_{d}_date" for p, _ in PERIODS for d in ("eps", "rev", "up")],
               *[f"{q}_date" for q, _ in QUARTERS]]

#: cell → (typed-row array, position): the typed row carries one array per
#: cell rule; a count cell is gated in ``num`` but its value is in ``short``
_INDEX = {**{c: ("num", i) for i, c in enumerate(_NUMERIC_CELLS)},
          **{c: ("short", i) for i, c in enumerate(_SHORT_CELLS)},
          **{c: ("period_end", i) for i, c in enumerate(_DATE_CELLS)}}
_KEPT = ["act_symbol", "folder_date", "rank", "value", "growth", "momentum", "vgm"]


def _cells(names: list[str]) -> Column:
    return F.array(*[F.col(c) for c in names])


def _normalized() -> Column:
    """``normalize_numeric_cell`` over every numeric cell: the grammar is
    one lambda in the plan, however many cells the page has."""
    return F.transform(_cells(_NUMERIC_CELLS), E.normalize_numeric_cell)


def _month_ends() -> Column:
    return F.transform(_cells(_DATE_CELLS), E.month_end_from_mm_yyyy)


def _gate(normalized: Column, month_ends: Column) -> Column:
    """Reference cast semantics per document: the rank and scores are enum
    members, every header date parses, and every numeric cell is 'NA'
    (→ NULL, legal) or castable after the magnitude/paren/comma grammar
    (estimate-transform-load.rkt:118-125, :227-246) — the normalized
    elements the values are cast from."""
    cond = F.col("parse_error").isNull() & F.col("rank").isin(*RANKS)
    for c in ("value", "growth", "momentum", "vgm"):
        cond = cond & F.col(c).isin(*SCORES)
    return (cond
            & F.forall(normalized, lambda x: x.isNull() | x.try_cast(DEC).isNotNull())
            & F.forall(month_ends, lambda d: d.isNotNull()))


def doc_valid_condition() -> Column:
    """Would every insert of this document succeed in the reference?"""
    return _gate(_normalized(), _month_ends())


def typed_estimates(parsed: DataFrame) -> DataFrame:
    """The parsed batch typed once: the key, rank and scores, ``doc_valid``
    and one array per cell rule — ``num`` (decimal), ``short``
    (smallint) and ``period_end`` (date). The normalized array is
    projected first so the gate and the values read the same elements."""
    staged = parsed.select(
        *_KEPT, "parse_error", _normalized().alias("__norm"),
        _month_ends().alias("period_end"),
        F.transform(_cells(_SHORT_CELLS),
                    lambda x: E.na_to_null(F.trim(x)).try_cast("smallint"))
        .alias("short"))
    return staged.select(
        *_KEPT,
        F.coalesce(_gate(F.col("__norm"), F.col("period_end")),
                   F.lit(False)).alias("doc_valid"),
        F.transform("__norm", lambda x: x.try_cast(DEC)).alias("num"),
        "short", "period_end")


def _typed(name: str) -> Column:
    arr, i = _INDEX[name]
    return F.col(arr)[i]


def _stack(typed: DataFrame, key: list[Column], rows: list[list[Column]]) -> DataFrame:
    """One output row per struct: ``inline`` of an array of per-period
    structs, one narrow projection over the typed batch."""
    return typed.select(*key, F.inline(F.array(*[F.struct(*r) for r in rows])))


def _per_period(typed: DataFrame, table: str, date_cell: str,
                prefix: str) -> DataFrame:
    """The four period rows of one table: its declared value columns
    after ``period_end_date``, each from the cell ``<period>_<prefix><column>``."""
    cols = TABLES[table].fieldNames()
    cols = cols[cols.index("period_end_date") + 1:]
    return _stack(
        typed, [F.col("act_symbol"), F.col("folder_date").alias("date")],
        [[F.lit(_PERIOD_ENUM[p]).alias("period"),
          _typed(f"{p}_{date_cell}").alias("period_end_date"),
          *[_typed(f"{p}_{prefix}{c}").alias(c) for c in cols]]
         for p, _ in PERIODS])


def rank_score_rows(typed: DataFrame) -> DataFrame:
    return typed.select(
        F.col("act_symbol"), F.col("folder_date").alias("date"),
        "rank", "value", "growth", "momentum", "vgm")


def sales_estimate_rows(typed: DataFrame) -> DataFrame:
    # sales uses the EPS section's date header ("we sometimes have worse
    # coverage with sales estimates", estimate-transform-load.rkt:252-253)
    return _per_period(typed, "sales_estimate", "eps_date", "sales_")


def eps_estimate_rows(typed: DataFrame) -> DataFrame:
    return _per_period(typed, "eps_estimate", "eps_date", "eps_")


def eps_revision_rows(typed: DataFrame) -> DataFrame:
    return _per_period(typed, "eps_revision", "rev_date", "")


def eps_perception_rows(typed: DataFrame) -> DataFrame:
    return _per_period(typed, "eps_perception", "up_date", "")


def eps_history_rows(typed: DataFrame) -> DataFrame:
    """The one fan-out table whose key has no folder date: a batch that
    spans several folders can offer one row per folder for a key, and the
    earliest folder wins, as when each folder loads in its own run."""
    out = _stack(typed, [F.col("act_symbol"), F.col("folder_date")], [
        [_typed(f"{q}_date").alias("period_end_date"),
         _typed(f"{q}_reported").alias("reported"),
         _typed(f"{q}_estimate").alias("estimate")] for q, _ in QUARTERS])
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

    The batch is typed once (``typed_estimates``) and persisted with the
    validity gate as a column; one aggregate gives both counters, and the
    fan-out reads ``filter(gate)``.
    The six destination tables are independent (disjoint stores, each
    with its own write lock) and each upsert is a small Spark job, so
    they are submitted concurrently from a thread pool — the scheduler
    interleaves the stages and the per-job fixed costs overlap instead
    of serializing (measured ~1.9× wall-clock on a 300-doc batch)."""
    gate = F.col("doc_valid")
    with cache_scope():
        typed = persist(typed_estimates(parsed),
                        StorageLevel.MEMORY_AND_DISK_DESER)  # DataFrame.persist() default
        n = typed.agg(F.count(F.lit(1)).alias("attempted"),
                      F.count(F.when(gate, 1)).alias("loaded")).first()
        valid = typed.filter(gate)
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
