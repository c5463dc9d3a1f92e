"""Financial-statement lifecycle — SURVEY §3.2: typed candidate rows, the
``should_not_insert`` (sni) copy-bug guard, and per-table upserts.

sni semantics (W2/A2/J1; income-statement-transform-load.rkt:116-228):
for each candidate (symbol, date, period) row, look up the row at the
*prior period key* (annual: date − 1 year; quarterly: the
``+1d −3mo −1d`` quarter-end trick) and compute ``bool_and`` of value
equality over the table's compare columns. sni TRUE → the insert is
aborted (Zacks copied last period's numbers); sni NULL (no prior row, or
any NULL comparison) → insert proceeds — three-valued logic is
load-bearing (SURVEY §7.4.3).

The reference iterates (period × fifth…most-recent) SEQUENTIALLY and each
insert's CTE reads rows landed earlier in the same run
(income-statement-transform-load.rkt:275-276: oldest column first) — so a
fresh bulk load must evaluate the chain *within* the batch, not only
against stored rows. That per-(symbol, period) sequential fold is one
Catalyst aggregate: each group's stored rows and candidates (≤5 per
folder, each carrying its prior key from ``expressions.prior_period_date``)
are collected into one sorted array and walked by ``aggregate`` into a
``map<date, row>`` of landed rows; SQL's own ``=``/``AND`` give the
three-valued compare. No Python runs in the chain.

Balance-sheet pages land three tables in ONE transaction per (period,
date) (balance-sheet-transform-load.rkt:139-460: assets → liabilities →
equity); any of the three snis firing rolls back all three rows — handled
by evaluating the chain over the concatenated compare-column set with
per-table sni OR'd together.

Cast semantics: the reference has NO 'NA' handling in statement inserts —
an uncastable cell throws and rolls back that (period, date) row. Row
validity below reproduces that: every raw cell must either be absent
(the forced-NULL quarterly income columns) or cast cleanly.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, MapType
from pyspark.storagelevel import StorageLevel

from zacks_estimates_financial_statements_spark.functions import expressions as E
from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.schemas import PRIMARY_KEYS, TABLES
from zacks_estimates_financial_statements_spark.util import cache_scope, persist

#: statement kind → (raw dataset dir, destination tables)
STATEMENT_KINDS = {
    "income": ("income-statement", ["income_statement"]),
    "balance": ("balance-sheet", ["balance_sheet_assets",
                                  "balance_sheet_liabilities",
                                  "balance_sheet_equity"]),
    "cash_flow": ("cash-flow-statement", ["cash_flow_statement"]),
}

_DATE_FMT = {"income": "M/dd/yy", "balance": "M/dd/yyyy",
             "cash_flow": "M/dd/yyyy"}


def _sni_compare_sets(kind: str) -> list[list[str]]:
    """Column groups with independent sni guards whose failures share one
    transaction: each destination table's declared non-key columns —
    one group for income/cash_flow, three (assets, liabilities, equity)
    OR'd together for balance."""
    return [[c for c in TABLES[t].fieldNames() if c not in PRIMARY_KEYS[t]]
            for t in STATEMENT_KINDS[kind][1]]


#: statement kind → its value columns, in page (and DDL) order
_KIND_COLS = {kind: [c for group in _sni_compare_sets(kind) for c in group]
              for kind in STATEMENT_KINDS}

#: unscaled (per-share) columns per kind — everything else is ×1e6 (F7;
#: income-statement-transform-load.rkt:201-226,
#: balance-sheet-transform-load.rkt:423-432,
#: cash-flow-statement-transform-load.2024-02-01.rkt:201-225)
_UNSCALED = {
    "income": {"diluted_eps_before_non_recurring_items", "diluted_net_eps"},
    "balance": {"book_value_per_share"},
    "cash_flow": {"diluted_net_eps"},
}

#: income columns compared as IS NULL for quarterly candidates
#: (income-statement-transform-load.rkt:141-148)
_INCOME_NULL_QUARTERLY = ("income_before_depreciation_and_amortization",
                          "depreciation_and_amortization")


def typed_candidates(raw: DataFrame, kind: str) -> DataFrame:
    """Parsed raw rows → typed, scaled candidate rows with reference cast
    validity applied (invalid rows dropped = per-row rollback). The
    ``folder_date`` rides along to order the sni fold.

    ``clean_statement_cell`` runs once per plan: one ``transform`` over
    the array of the kind's cells, read by both the validity ``forall``
    and the values."""
    cols = _KIND_COLS[kind]
    unscaled = _UNSCALED[kind]
    date_col = E.parse_statement_date(F.col("date_raw"), _DATE_FMT[kind])
    period_col = E.decode_statement_period(
        F.when(F.col("period") == "annual", "annual").otherwise("quarterly"))
    cells = F.array(*[F.col(c) for c in cols])

    staged = raw.select(
        "act_symbol", "folder_date", "parse_error",
        date_col.alias("date"), period_col.alias("period"),
        cells.alias("__raw"),
        F.transform(cells, E.clean_statement_cell).alias("__cleaned"))
    validity = (F.col("parse_error").isNull() & F.col("date").isNotNull()
                & F.forall(F.zip_with("__raw", "__cleaned",
                                      lambda r, t: r.isNull() | t.isNotNull()),
                           lambda ok: ok))
    cleaned = F.col("__cleaned")
    typed = [(cleaned[i] if c in unscaled else E.scale_millions(cleaned[i])).alias(c)
             for i, c in enumerate(cols)]
    return (staged.filter(validity)
            .select("act_symbol", "folder_date", "date", "period", *typed))


def _sni_fires(kind: str, prior: Column, r: Column) -> Column:
    """sni IS TRUE for candidate ``r`` against the landed ``prior`` row:
    some compare group's SQL ``AND`` of ``prior.c = r.c`` is TRUE (income
    Quarter rows test ``prior.c IS NULL`` on ``_INCOME_NULL_QUARTERLY``).
    A missing prior never fires, also for those ``IS NULL`` columns."""
    def same(c: str) -> Column:
        if kind == "income" and c in _INCOME_NULL_QUARTERLY:
            return F.when(F.col("period") == "Quarter", prior[c].isNull()) \
                .otherwise(prior[c] == r[c])
        return prior[c] == r[c]

    return prior.isNotNull() & reduce(operator.or_, [
        reduce(operator.and_, map(same, group)).eqNullSafe(True)
        for group in _sni_compare_sets(kind)])


def apply_sni_chain(candidates: DataFrame, stored: DataFrame,
                    kind: str) -> DataFrame:
    """Sequential sni evaluation per (act_symbol, period) group against
    stored ∪ previously-accepted rows, in the reference's order: folder by
    folder, oldest date first — so a batch spanning several folder dates
    keeps the earliest folder's row for a key, as one run per folder
    would. Returns the accepted candidate rows without ``folder_date``.

    Each row becomes one ``(src, folder_date, date, prior, values…)``
    struct, stored rows ``src = 0``, so ``sort_array`` puts them first and
    the candidates in (folder_date, date) order. ``aggregate`` folds the
    array into a ``map<date, row>``: a stored row always lands (a
    duplicate stored key makes ``map_concat`` raise); a candidate lands
    when its date is free (ON CONFLICT DO NOTHING) and no compare group
    fires against the row at its F10 prior key."""
    cols = _KIND_COLS[kind]
    no_date = F.lit(None).cast("date")
    both = stored.withColumns(
        {"src": F.lit(0), "folder_date": no_date, "prior": no_date}
    ).unionByName(candidates.withColumns(
        {"src": F.lit(1),
         "prior": E.prior_period_date(F.col("date"), F.col("period"))}))
    row = F.struct("src", "folder_date", "date", "prior", *cols)
    landed = F.create_map().cast(
        MapType(DateType(), both.select(row).schema[0].dataType))

    def step(acc: Column, r: Column) -> Column:
        take = (r["src"] == 0) | (
            ~F.map_contains_key(acc, r["date"])
            & ~_sni_fires(kind, F.try_element_at(acc, r["prior"]), r))
        return F.when(take, F.map_concat(acc, F.create_map(r["date"], r))) \
            .otherwise(acc)

    return (both.groupBy("act_symbol", "period")
            .agg(F.aggregate(F.sort_array(F.collect_list(row)), landed, step)
                 .alias("landed"))
            .select("act_symbol", "period",
                    F.explode(F.map_values("landed")).alias("r"))
            .filter("r.src = 1")
            .select("act_symbol", "r.date", "period", *[f"r.{c}" for c in cols]))


def load_statement(raw: DataFrame, kind: str,
                   stores: dict[str, TableStore]) -> None:
    """One loader run: type the batch, run the sni chain against stored
    state, and upsert the accepted rows' declared columns into each
    destination table."""
    dest = STATEMENT_KINDS[kind][1]
    # stored compare state: the destination tables joined back into the
    # page-shaped wide row on the shared PK. INNER joins, not outer
    # (r10 crash-recovery find): a PK counts as "landed" (sni chain's
    # ON CONFLICT DO NOTHING) only when EVERY destination table carries
    # it — a mid-fan-out crash leaves a PARTIAL row (e.g. assets
    # written, liabilities/equity not), and an outer-joined wide row made
    # the replay skip the candidate, stranding the row incomplete
    # forever. With inner joins the partial PK is not "landed", the
    # replay re-accepts the candidate, the already-written table's PK
    # upsert is a no-op, and the missing tables complete — the module
    # recovery contract tests/test_streaming.py pins. In crash-free
    # operation the tables always carry equal PK sets, so inner == outer
    # there.
    stored = stores[dest[0]].read()
    for t in dest[1:]:
        stored = stored.join(stores[t].read(), list(PRIMARY_KEYS[t]))
    with cache_scope():
        # each upsert reads the accepted rows twice (its partition-value
        # collect, then the append), once per destination table: persist
        # the typed batch so each page is parsed once. Not the fold's
        # output: a cached plan keeps the groupBy's shuffle partitions
        # (AQE does not coalesce a cached plan), and the write would
        # split into a file per partition.
        candidates = persist(typed_candidates(raw, kind),
                             StorageLevel.MEMORY_AND_DISK_DESER)
        accepted = apply_sni_chain(candidates, stored, kind)
        for t in dest:
            stores[t].upsert_ignore(accepted.select(*TABLES[t].fieldNames()))
