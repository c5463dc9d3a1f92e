"""Seeded multi-date raw-zone generator with exact expected table sizes.

Writes the reference raw-zone layout (``<base>/<dataset>/<yyyy-MM-dd>/``)
for a universe of symbols over weekly folder dates, using the page
builders of ``tests/fixtures.py``:

- every value varies per symbol and per date (estimates) or per symbol
  and reporting period (statements, so an unchanged page re-offers the
  same rows and the writer sees conflicts);
- on each date a share of symbols rolls its statement periods forward
  one quarter, so a daily statement load is mostly conflicts plus some
  new rows;
- small seeded shares of invalid documents (a bad rank enum or a garbage
  numeric cell) and of statement pages whose newest quarter copies the
  prior quarter (the sni guard rejects that row);
- earnings and dividend day-files carry the ``window.app_data =`` prefix,
  HTML tags and "Quick Quote" noise.

``RawZone.expected`` replays the reference's load semantics (first write
wins, the sni guard, the calendar W4/W5 merge and the W6 stale-earnings
cleanup) over plain Python values, so a run can check its row counts
without trusting the code under test.
"""

from __future__ import annotations

import calendar
import datetime
import json
import os
import random
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_HERE)
if os.path.join(_ROOT, "tests") not in sys.path:
    sys.path.insert(0, os.path.join(_ROOT, "tests"))

import fixtures  # noqa: E402  (tests/fixtures.py: the page builders)

from zacks_estimates_financial_statements_spark.schemas import (  # noqa: E402
    BALANCE_SHEET_ASSETS_COLS,
    BALANCE_SHEET_EQUITY_COLS,
    BALANCE_SHEET_LIABILITIES_COLS,
    CASH_FLOW_STATEMENT_COLS,
    INCOME_STATEMENT_COLS,
    RANKS,
    SCORES,
)
from zacks_estimates_financial_statements_spark.sources.raw_zone import SUFFIXES  # noqa: E402

D = datetime.date

#: statement kind -> (raw dataset, destination tables, page fields)
STATEMENTS = {
    "income": ("income-statement", ["income_statement"],
               INCOME_STATEMENT_COLS),
    "balance": ("balance-sheet", ["balance_sheet_assets",
                                  "balance_sheet_liabilities",
                                  "balance_sheet_equity"],
                BALANCE_SHEET_ASSETS_COLS + BALANCE_SHEET_LIABILITIES_COLS
                + BALANCE_SHEET_EQUITY_COLS),
    "cash_flow": ("cash-flow-statement", ["cash_flow_statement"],
                  CASH_FLOW_STATEMENT_COLS),
}
_DATE_FMT = {"income": "{m}/{d:02d}/{yy:02d}", "balance": "{m}/{d:02d}/{y}",
             "cash_flow": "{m}/{d:02d}/{y}"}
#: income quarterly pages carry no D&A table: those columns load NULL
_INCOME_ANNUAL_ONLY = ("income_before_depreciation_and_amortization",
                       "depreciation_and_amortization")

ESTIMATE_TABLES = ["rank_score", "sales_estimate", "eps_estimate",
                   "eps_revision", "eps_perception", "eps_history"]
STATEMENT_TABLES = [t for _, ts, _ in STATEMENTS.values() for t in ts]
CALENDAR_TABLES = ["earnings_calendar", "dividend_calendar"]

#: latest reporting quarter any symbol may reach (quarter index, below):
#: every folder date is > 15 days after it, so no page trips the
#: parser's recency gate
_MAX_QUARTER = 2025 * 4 + 0
_FIRST_FOLDER = D(2025, 5, 6)
_CAL_DAYS = 5           # event-date files per calendar folder


def quarter_end(q: int) -> D:
    """Quarter index ``year * 4 + (quarter - 1)`` -> its last day."""
    y, m = divmod(q, 4)
    m = 3 * m + 3
    return D(y, m, calendar.monthrange(y, m)[1])


def _month_end_plus(d: D, months: int) -> D:
    y, m0 = divmod(d.year * 12 + d.month - 1 + months, 12)
    return D(y, m0 + 1, calendar.monthrange(y, m0 + 1)[1])


def _symbols(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        k = rng.choice((3, 4))
        out.add("".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
                        for _ in range(k)))
    return sorted(out)


class RawZone:
    """The document specs of one seeded universe; pages are rendered on
    ``write``. ``n_dates`` weekly folder dates start at ``_FIRST_FOLDER``."""

    def __init__(self, seed: int, n_symbols: int, n_dates: int,
                 day_seed: int | None = None,
                 roll_share: float = 0.3, invalid_share: float = 0.04,
                 copy_share: float = 0.15, calendar_share: float = 0.2):
        self.seed = seed
        rng = random.Random(seed)
        self.symbols = _symbols(rng, n_symbols)
        self.dates = [_FIRST_FOLDER + datetime.timedelta(days=7 * i)
                      for i in range(n_dates)]
        #: the last date may draw from its own seed; statement values stay
        #: keyed by ``seed`` so re-offered periods repeat exactly
        self.date_seed = {d: seed for d in self.dates}
        if day_seed is not None:
            self.date_seed[self.dates[-1]] = day_seed
        self.calendars: dict[D, dict] = {}
        # per (date, symbol): the latest reported quarter, and flags
        quarter = {s: rng.choice(range(_MAX_QUARTER - 3, _MAX_QUARTER + 1))
                   for s in self.symbols}
        self.docs: dict[D, dict[str, dict]] = {}
        for i, day in enumerate(self.dates):
            if self.date_seed[day] != seed:
                rng = random.Random(self.date_seed[day])
            specs = {}
            for s in self.symbols:
                rolled = (i > 0 and quarter[s] < _MAX_QUARTER
                          and rng.random() < roll_share)
                if rolled:
                    quarter[s] += 1
                spec = {"quarter": quarter[s], "est_bad": None,
                        "stmt_bad": {}, "copied": set()}
                if rng.random() < invalid_share:
                    spec["est_bad"] = rng.choice(("enum", "cell"))
                for kind, (_, _, fields) in STATEMENTS.items():
                    # a page is either copied or carries one garbage cell
                    # (period, column, field), never both: a copy whose
                    # prior row failed to land would make the outcome
                    # depend on batch order
                    if (rolled or i == 0) and rng.random() < copy_share:
                        spec["copied"].add(kind)
                    elif rng.random() < invalid_share:
                        spec["stmt_bad"][kind] = (
                            rng.choice(("annual", "quarterly")),
                            rng.randrange(5), rng.choice(fields))
                specs[s] = spec
            self.docs[day] = specs
            self.calendars[day] = self._calendar_rows(rng, day, calendar_share)

    # -- values ------------------------------------------------------------

    def _stmt_values(self, sym: str, kind: str, period: str,
                     end: D) -> dict[str, str]:
        """One statement column: fixed per (symbol, kind, period, date),
        so every later page re-offers the same row."""
        rng = random.Random(f"{self.seed}/{sym}/{kind}/{period}/{end}")
        return {f: f"{rng.randint(1, 99999)}.{rng.randint(0, 99):02d}"
                for f in STATEMENTS[kind][2]}

    def _calendar_rows(self, rng: random.Random, day: D, share: float):
        """{dataset: [(event_date, [row, ...]), ...]} for one folder."""
        out = {"earnings-calendar": [], "dividend-calendar": []}
        for k in range(_CAL_DAYS):
            event = day + datetime.timedelta(days=k)
            earn, div = [], []
            for s in self.symbols:
                name = f"<span>{s.title()} Corp {s} Quick Quote</span>"
                if rng.random() < share:
                    earn.append([s, name, str(rng.randint(1, 9)),
                                 rng.choice(("amc", "bmo", "--")), "x"])
                if rng.random() < share:
                    ex = event + datetime.timedelta(days=rng.randint(0, 2))
                    pay = (ex + datetime.timedelta(days=rng.randint(10, 30))
                           ).isoformat() if rng.random() < 0.7 else "--"
                    div.append([s, name, "x", f"${rng.randint(1, 300) / 100:.2f}",
                                "x", ex.isoformat(), "x", pay])
            out["earnings-calendar"].append((event, earn))
            out["dividend-calendar"].append((event, div))
        return out

    # -- pages -------------------------------------------------------------

    def _estimate_page(self, sym: str, day: D, spec: dict) -> str:
        rng = random.Random(f"{self.date_seed[day]}/{sym}/est/{day}")
        q = spec["quarter"]

        def mmyyyy(d: D) -> str:
            return f"{d.month}/{d.year}"

        nxt = quarter_end(q + 1)
        dates = (mmyyyy(nxt), mmyyyy(quarter_end(q + 2)),
                 f"12/{nxt.year}", f"12/{nxt.year + 1}")

        def cells(lo, hi, fmt="{:.2f}"):
            return [fmt.format(rng.uniform(lo, hi)) for _ in range(4)]

        def ints(hi):
            return [str(rng.randint(0, hi)) for _ in range(4)]

        sales = {k: cells(0.5, 9.5, "{:.2f}B") for k in
                 ("consensus", "high", "low", "year_ago")}
        sales["count"] = ints(20)
        eps = {k: cells(-1, 6) for k in
               ("consensus", "recent", "high", "low", "year_ago")}
        eps["count"] = ints(20)
        rev = {k: ints(9) for k in
               ("up_7", "up_30", "up_60", "down_7", "down_30", "down_60")}
        rank = f"{rng.randint(1, 5)}-{rng.choice(RANKS)}"
        if spec["est_bad"] == "enum":
            rank = rank + "x"
        elif spec["est_bad"] == "cell":
            sales["consensus"][rng.randrange(4)] = "1.2.3B"
        return fixtures.estimate_page(
            rank_text=rank, scores=tuple(rng.choice(SCORES) for _ in range(4)),
            dates=dates, sales=sales, eps=eps, rev=rev,
            upside={"most_accurate": cells(-1, 6)},
            surprise_dates=tuple(mmyyyy(quarter_end(q - k)) for k in range(4)),
            surprise={"reported": cells(-1, 6), "estimate": cells(-1, 6)})

    def _period_dates(self, q: int) -> tuple[list[D], list[D]]:
        """(annual, quarterly) report dates, most recent first."""
        y = q // 4 if q % 4 == 3 else q // 4 - 1
        return ([D(y - k, 12, 31) for k in range(5)],
                [quarter_end(q - k) for k in range(5)])

    def statement_rows(self, sym: str, kind: str, day: D) -> list[tuple]:
        """The typed candidate rows one page offers, as
        (period, date, values) with values a tuple in field order; rows
        with a garbage cell are dropped (per-row rollback)."""
        spec = self.docs[day][sym]
        annual, quarterly = self._period_dates(spec["quarter"])
        fields = STATEMENTS[kind][2]
        bad = spec["stmt_bad"].get(kind)
        rows = []
        for period, label, dates in (("annual", "Year", annual),
                                     ("quarterly", "Quarter", quarterly)):
            for col, end in enumerate(dates):
                if bad and bad[0] == period and bad[1] == col:
                    continue
                src = dates[1] if (period == "quarterly" and col == 0
                                   and kind in spec["copied"]) else end
                v = self._stmt_values(sym, kind, period, src)
                if kind == "income" and period == "quarterly":
                    v = {f: (None if f in _INCOME_ANNUAL_ONLY else x)
                         for f, x in v.items()}
                rows.append((label, end, tuple(v[f] for f in fields)))
        return rows

    def _statement_page(self, sym: str, kind: str, day: D) -> str:
        spec = self.docs[day][sym]
        annual, quarterly = self._period_dates(spec["quarter"])
        fields = STATEMENTS[kind][2]
        bad = spec["stmt_bad"].get(kind)
        fmt = _DATE_FMT[kind]

        def values(period, dates):
            cols = []
            for col, end in enumerate(dates):
                src = dates[1] if (period == "quarterly" and col == 0
                                   and kind in spec["copied"]) else end
                v = dict(self._stmt_values(sym, kind, period, src))
                if bad and bad[0] == period and bad[1] == col:
                    v[bad[2]] = "12.3.4x"
                cols.append(v)
            return {f: [c[f] for c in cols] for f in fields}

        def heads(dates):
            return [fmt.format(m=d.month, d=d.day, y=d.year, yy=d.year % 100)
                    for d in dates]

        build = {"income": fixtures.income_statement_page,
                 "balance": fixtures.balance_sheet_page,
                 "cash_flow": fixtures.cash_flow_page}[kind]
        return build(heads(annual), heads(quarterly),
                     values("annual", annual), values("quarterly", quarterly))

    # -- raw zone ----------------------------------------------------------

    def write(self, base: str, dates: list[D],
              kinds=tuple(STATEMENTS)) -> dict[str, int]:
        """Render the documents of ``dates`` under ``base`` (statement
        pages of ``kinds`` only); returns {"html": n, "calendar": n} file
        counts."""
        n_html = n_cal = 0
        for day in dates:
            folder = day.isoformat()
            datasets = [("estimates", None)] + [
                (STATEMENTS[kind][0], kind) for kind in kinds]
            for ds, kind in datasets:
                d = os.path.join(base, ds, folder)
                os.makedirs(d, exist_ok=True)
                for s in self.symbols:
                    html = (self._estimate_page(s, day, self.docs[day][s])
                            if kind is None
                            else self._statement_page(s, kind, day))
                    with open(os.path.join(d, s + SUFFIXES[ds]), "w") as fh:
                        fh.write(html)
                    n_html += 1
            for ds, files in self.calendars[day].items():
                d = os.path.join(base, ds, folder)
                os.makedirs(d, exist_ok=True)
                for event, rows in files:
                    payload = "window.app_data = " + json.dumps({"data": rows})
                    with open(os.path.join(d, f"{event}.json"), "w") as fh:
                        fh.write(payload)
                    n_cal += 1
        return {"html": n_html, "calendar": n_cal}

    # -- expected state ----------------------------------------------------

    def expected(self, dates: list[D],
                 last_kinds=tuple(STATEMENTS)) -> "Expected":
        """Table contents (keys) after loading ``dates`` in order with the
        daily runner sequence; the last date loads the statement
        ``last_kinds`` only."""
        ex = Expected()
        for day in dates:
            ex.load_estimates(self, day)
            ex.load_statements(self, day, last_kinds if day == dates[-1]
                               else tuple(STATEMENTS))
            ex.load_calendars(self, day)
        return ex


def _prior(period: str, d: D) -> D:
    """statement_pipeline._prior_date for month-end dates."""
    if period == "Year":
        return D(d.year - 1, d.month, calendar.monthrange(d.year - 1, d.month)[1]
                 if d.day == calendar.monthrange(d.year, d.month)[1] else d.day)
    return _month_end_plus(d, -3)


class Expected:
    """Keys of every table after a sequence of loads (reference semantics)."""

    def __init__(self) -> None:
        self.keys: dict[str, set] = {t: set() for t in
                                     ESTIMATE_TABLES + STATEMENT_TABLES}
        self.stmt: dict[str, dict] = {k: {} for k in STATEMENTS}
        self.earnings: dict[tuple, None] = {}
        self.dividends: dict[tuple, None] = {}
        self.condemned_last = 0

    def load_estimates(self, rz: RawZone, day: D) -> None:
        for s, spec in rz.docs[day].items():
            if spec["est_bad"]:
                continue
            self.keys["rank_score"].add((day, s))
            for t in ESTIMATE_TABLES[1:5]:
                for p in range(4):
                    self.keys[t].add((day, s, p))
            for k in range(4):
                self.keys["eps_history"].add((s, quarter_end(spec["quarter"] - k)))

    def load_statements(self, rz: RawZone, day: D, kinds) -> None:
        """First-write-wins plus the sni chain, oldest date first per
        (symbol, period) — statement_pipeline.apply_sni_chain."""
        for kind in kinds:
            tables = STATEMENTS[kind][1]
            landed = self.stmt[kind]
            for s in rz.symbols:
                for period, end, values in sorted(
                        rz.statement_rows(s, kind, day), key=lambda r: r[1]):
                    key = (s, period, end)
                    if key in landed:
                        continue
                    prior = landed.get((s, period, _prior(period, end)))
                    if prior is not None and prior == values:
                        continue
                    landed[key] = values
                    for t in tables:
                        self.keys[t].add(key)

    def load_calendars(self, rz: RawZone, day: D) -> None:
        for ds, store in (("earnings-calendar", self.earnings),
                          ("dividend-calendar", self.dividends)):
            winners = {}
            for event, rows in rz.calendars[day][ds]:  # path order
                for row in rows:
                    when = event if ds == "earnings-calendar" \
                        else D.fromisoformat(row[5])
                    winners[row[0]] = when
            week_ago = day - datetime.timedelta(days=7)
            kept = {k: None for k in store
                    if k[1] < day and not (k[0] in winners and k[1] >= week_ago)}
            store.clear()
            store.update(kept)
            store.update({(s, d): None for s, d in winners.items()})
        self._cleanup_stale_earnings()

    def _cleanup_stale_earnings(self) -> None:
        """calendar_pipeline.stale_earnings_keys over balance_sheet_assets."""
        bsa: dict[str, set] = {}
        for s, _period, end in self.keys["balance_sheet_assets"]:
            bsa.setdefault(s, set()).add(end)
        by_sym: dict[str, list] = {}
        for s, d in self.earnings:
            by_sym.setdefault(s, []).append(d)
        condemned = set()
        for s, ds in by_sym.items():
            if s not in bsa:
                continue
            nqe = lambda d: _month_end_plus(d, 3)  # noqa: E731
            windows = bsa[s] | {nqe(max(bsa[s]))}
            for w in windows:
                inside = [d for d in ds if w < d <= nqe(w)]
                if inside:
                    top = max(inside)
                    condemned.update((s, d) for d in inside if d != top)
        for k in condemned:
            del self.earnings[k]
        self.condemned_last = len(condemned)

    def counts(self) -> dict[str, int]:
        out = {t: len(k) for t, k in self.keys.items()}
        out["earnings_calendar"] = len(self.earnings)
        out["dividend_calendar"] = len(self.dividends)
        return out

    def dates_in(self, table: str, start: D, end: D) -> int:
        """Distinct dump dates of ``table`` within [start, end]
        (export.dump_dolt writes one CSV per date)."""
        if table in ESTIMATE_TABLES[:5]:
            ds = {k[0] for k in self.keys[table]}
        elif table == "eps_history":
            ds = {k[1] for k in self.keys[table]}
        else:
            ds = {k[2] for k in self.keys[table]}
        return sum(start <= d <= end for d in ds)
