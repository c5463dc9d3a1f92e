"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is one operator family from SURVEY.md §2 (or
a training-data-pipeline operator from the extension surface) expressed
on the driver's testdata tables, with an exact ANSI-SQL twin in
``oracle_sql()`` for the DuckDB cross-check.

Determinism rules used throughout (so value hashes match):
- double aggregation is always routed through ``decimal(38,6)`` casts
  (per-element cast → exact decimal sums in both engines);
- per-row double math (cosine etc.) uses identical left-fold order in
  both engines and is rounded to 6 digits;
- every computed column is aliased identically on both sides;
- hash-family primitive is md5-derived in both dialects
  (``conv(substr(md5(x),1,15),16,10)`` ≡ ``('0x'||substr(md5(x),1,15))::bigint``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from zacks_estimates_financial_statements_spark.export import decimal_text  # noqa: E402
from zacks_estimates_financial_statements_spark.functions import expressions as E  # noqa: E402
from zacks_estimates_financial_statements_spark.functions import text as T  # noqa: E402
from zacks_estimates_financial_statements_spark.functions import vectors  # noqa: E402
from zacks_estimates_financial_statements_spark.functions import tokenize  # noqa: E402
from zacks_estimates_financial_statements_spark.functions import web  # noqa: E402
from zacks_estimates_financial_statements_spark.operators import (  # noqa: E402
    curation, dedup, graph, multimodal, similarity, sketches, temporal)
from zacks_estimates_financial_statements_spark.pipelines import calendar_pipeline  # noqa: E402
from zacks_estimates_financial_statements_spark.util import persist  # noqa: E402

DEC = "decimal(38,6)"

# DuckDB twin of export.decimal_text: render a decimal as trailing-zero
# trimmed VARCHAR so value hashes are engine-independent (the round-1
# driver hash failures were all DECIMAL/TIMESTAMP physical-type rendering;
# export_text — which already rendered through this pattern — passed).
def _dt_sql(expr: str) -> str:
    return ("regexp_replace(regexp_replace(CAST(" + expr +
            " AS VARCHAR), '(\\.\\d*?)0+$', '\\1'), '\\.$', '')")


# --- unrepresentable-measure contract (r9 --nan-rate; r12 --extreme-rate) --
# Spark's ANSI double->decimal CAST yields NULL for NaN/±Inf but ABORTS
# for finite values beyond decimal(38,6)'s ~9.99e31 max (r12 recon:
# NUMERIC_VALUE_OUT_OF_RANGE across 9 queries); DuckDB's CAST
# hard-aborts for both. Pinned contract: decimal(38,6) is the declared
# exact-aggregation domain, and a measure OUTSIDE it (non-finite OR
# |x| >= 1e32) degrades to NULL per row — Spark via try_cast (the
# package's `_dec` idiom), twins via the explicit guard below. The
# 1e32 bound is exact for doubles: the largest double below 1e32 is
# ~6e15 under it, so no representable value straddles the boundary.
# `_fin_sql` (non-finite only) remains the guard for NON-decimal
# statistics (exact percentiles etc.), where huge finite values are
# legitimate and must participate.
def _fin_sql(expr: str) -> str:
    return f"CASE WHEN isfinite({expr}) THEN {expr} END"


def _decg(expr: str) -> str:
    # domain bound mirrored from util.DEC6_DOMAIN (1e26): see that
    # constant's docstring for the sum-headroom argument
    return (f"CAST(CASE WHEN isfinite({expr}) AND abs({expr}) < 1e26 "
            f"THEN {expr} END AS DECIMAL(38,6))")


# --- URL casefold + parse mirrors (r11 Unicode contract fuzz) --------------
# Hostname/scheme case-insensitivity is ASCII-only (RFC 3986 §3.1,
# RFC 4343), and full-Unicode lower() is cross-engine divergent anyway
# (Java full mapping vs utf8proc simple — ~70 codepoints), so the
# package lowers URL parts with text.ascii_lower (a 1:1 A-Z translate)
# and every twin embeds the same table:
def _alow(expr: str) -> str:
    return (f"translate({expr}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
            f"'abcdefghijklmnopqrstuvwxyz')")


def _url_host_sql(rest: str) -> str:
    """Twin of functions/web.url_host over an already-scheme-stripped
    string: hostport up to the first [/?#] (a REAL parse — fuzzed
    values can carry '/' inside what the closed-form twins used to
    splice in whole), ASCII-lowered, www. and port stripped."""
    hp = _alow(f"regexp_extract({rest}, '^([^/?#]*)', 1)")
    return (f"regexp_replace(regexp_replace({hp}, '^www\\.', ''), "
            f"':[0-9]+$', '')")


def _lkey_sql(expr: str) -> str:
    """Twin of operators/linkage.linkage_key: ascii_fold (the shared
    162-pair translate table) then strip every codepoint outside
    printable ASCII — the projection cross-engine edit distance is
    defined over (Spark levenshtein is codepoint-based, DuckDB's
    byte-based; they agree only on ASCII)."""
    from zacks_estimates_financial_statements_spark.functions import text as _t
    frm = _t.ASCII_FOLD_FROM.replace("'", "''")
    return (f"regexp_replace(translate({expr}, '{frm}', "
            f"'{_t.ASCII_FOLD_TO}'), '[^ -~]+', '', 'g')")


def _canon_url_ctes(src_rel: str, keys: str) -> str:
    """Twin of functions/web.canonical_url as a CTE chain over
    ``{src_rel}(keys…, u)`` — emits CTEs ``__cu1..__cu3`` where
    ``__cu3(keys…, u, canon)`` holds the canonical form. A real parse
    mirroring the Spark expression step for step (fragment strip,
    ASCII-lowered scheme/hostport, www./default-port strip, trailing
    path slashes, tracking-param removal, sorted query)."""
    from zacks_estimates_financial_statements_spark.functions import web as _w
    strip = _w.TRACKING_PARAM_RE.replace("'", "''")
    scheme_re = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
    scheme_strip = r"^[A-Za-z][A-Za-z0-9+.\-]*://"
    return f"""
__cu1 AS (
  SELECT {keys}, u, regexp_replace(u, '#.*$', '') AS u0,
    regexp_replace(regexp_replace(u, '#.*$', ''),
                   '{scheme_strip}', '') AS rest
  FROM {src_rel}),
__cu2 AS (
  SELECT {keys}, u,
    {_alow(f"regexp_extract(u0, '{scheme_re}', 1)")} AS scheme,
    regexp_replace({_alow("regexp_extract(rest, '^([^/?#]*)', 1)")},
                   '^www\\.', '') AS host0,
    regexp_replace(regexp_extract(regexp_replace(rest, '^[^/?#]*', ''),
                                  '^([^?]*)', 1), '/+$', '') AS path0,
    regexp_extract(regexp_replace(rest, '^[^/?#]*', ''),
                   '\\?(.*)$', 1) AS q
  FROM __cu1),
__cu3 AS (
  SELECT {keys}, u,
    CASE WHEN scheme = '' THEN '' ELSE scheme || '://' END
    || (CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
             ELSE host0 END)
    || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
    || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canon
  FROM (SELECT {keys}, u, scheme, host0, path0,
          -- coalesce: DuckDB array_to_string([]) is NULL where Spark
          -- array_join([]) is '' — but keep NULL inputs NULL
          CASE WHEN q IS NOT NULL THEN coalesce(
            array_to_string(list_sort(list_filter(string_split(q, '&'),
              p -> p <> '' AND NOT regexp_matches(p, '{strip}'))), '&'),
            '') END AS qs
        FROM __cu2))"""


def _finite(c: F.Column) -> F.Column:
    """Spark-side twin of `_fin_sql` for paths that do NOT route through
    a decimal cast (exact percentiles, double->text rendering): NaN and
    ±Inf degrade to NULL per row. Spark comparison semantics order NaN
    above +Inf, so the open interval excludes all three."""
    return F.when((c > float("-inf")) & (c < float("inf")), c)


#: Canonical column contract per table (r13, --drift-rate fuzz dial):
#: every reader PROJECTS its declared columns by NAME, in declared
#: order, so physical column-order permutation and trailing columns a
#: producer appends are absorbed at the reader boundary instead of
#: leaking into schema-dependent operators (profile_table would
#: otherwise profile whatever the file happens to carry). The DuckDB
#: oracle harness applies the identical projection to its views
#: (tools/oracle_check.py imports this dict).
TABLE_COLUMNS = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value",
               "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}

#: Declared LOGICAL type for every temporal contract column. Parquet
#: producers re-encode timestamps across driver rounds (events.ts has
#: ALREADY drifted INT64-nanos ↔ TIMESTAMP-micros once, TESTDATA.md;
#: the r13 --drift-rate dial rotates ns / tz-adjusted variants onto
#: o_orderdate and l_shipdate too), so the reader normalizes whatever
#: physical encoding it finds to the declared type: LongType (a nanos
#: file read under ``nanosAsLong``) converts via exact integer
#: division, matching DuckDB's nanos→micros truncation; any
#: timestamp-like type casts under the pinned UTC session (wall-clock
#: preserving for UTC-adjusted variants). The DuckDB oracle views
#: apply the identical normalization (tools/oracle_check.py imports
#: this dict and CASTs to TIMESTAMP under ``SET TimeZone='UTC'``).
TEMPORAL_COLUMNS = {
    "orders": {"o_orderdate": "timestamp_ntz"},
    "lineitem": {"l_shipdate": "timestamp_ntz"},
    "events": {"ts": "timestamp"},
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # timestamp->date casts follow the session timezone; DuckDB's are
    # timezone-free. Pin UTC so results don't depend on the harness TZ.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # before the read: an INT64(TIMESTAMP(NANOS)) column is otherwise
    # PARQUET_TYPE_ILLEGAL — with the conf it surfaces as LongType and
    # the dispatch below owns the conversion
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = (spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
          .select(*TABLE_COLUMNS[name]))
    from pyspark.sql.types import LongType

    for col, target in TEMPORAL_COLUMNS.get(name, {}).items():
        if isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(
                col, F.timestamp_micros(
                    F.expr(f"{col} DIV 1000").cast("long")).cast(target))
        else:
            df = df.withColumn(col, F.col(col).cast(target))
    return df



def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings relation under the similarity-kit NULL contract
    (operators/similarity.py ``_scorable``): rows with a NULL vec_id or
    a NULL embedding are unaddressable/unscorable and are excluded
    BEFORE any ORDER BY/LIMIT selection — Spark sorts NULLs first
    ascending while DuckDB sorts them last, so an unfiltered
    ``ORDER BY vec_id LIMIT k`` would pick DIFFERENT query/centroid
    sets on the two engines (round-8 contract fuzz). Every oracle twin
    reads the matching filtered subquery."""
    e = _t(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id").isNotNull()
                    & F.col("embedding").isNotNull())


def _emb1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNAMBIGUOUS-id embeddings sub-relation for query/anchor/seed
    SELECTION (r12 extreme dial): `ORDER BY vec_id LIMIT k` over a
    relation where one id carries several versions (conflict clones;
    extreme-dial id collisions at the very bottom of the sort order)
    cuts mid-group, and WHICH physical copy survives the cut is engine
    scan order — an anchor with two embeddings is not a well-defined
    query anyway. Ids with more than one row are excluded from
    selection (the corpus side keeps every row). Twins read the
    matching `count(*) OVER (PARTITION BY vec_id) = 1` subquery.

    Plan (r13): every consumer takes ``LIMIT k ≤ 20``, so the dup test
    runs on a bounded sorted PREFIX (``similarity.unique_seed_prefix``:
    TakeOrdered — no corpus shuffle, no extra scan, splittable) instead
    of the r12 corpus-wide Window.partitionBy(vec_id) (vector shuffle +
    one unsplittable task per hot id) or the first-r13 groupBy dup-set +
    broadcast anti-join (scale-right but +0.4-0.8 s of extra-scan and
    broadcast-barrier latency per query, measured at sf0.1)."""
    return similarity.unique_seed_prefix(_emb(spark, sf_dir), "vec_id")

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events under the temporal reader contract — the ``ts`` dispatch
    (the physical type has drifted across driver rounds, TESTDATA.md)
    is the general ``TEMPORAL_COLUMNS`` normalization in ``_t``."""
    return _t(spark, sf_dir, "events")


def _dec(c) -> F.Column:
    # a measure outside the exact-aggregation domain (non-finite or
    # |x| >= util.DEC6_DOMAIN) is NULL per row, never an ANSI abort
    # (r12 extreme-rate contract; _decg is the SQL twin)
    from zacks_estimates_financial_statements_spark.util import dec6
    return dec6(c)


# ---------------------------------------------------------------------------
# Projections / filters / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


def q_filter_predicates(spark, sf):
    """P1/P2/P3: boolean equality, regex (pos+neg), CASE-in-WHERE."""
    part = _t(spark, sf, "part")
    # constants chosen to select a few hundred sf0.01 rows (the round-1
    # values selected zero — a vacuously-passing oracle proves nothing)
    cond = ((F.col("p_retailprice") > 905)
            & F.col("p_name").rlike("a")
            & ~F.col("p_brand").rlike("Brand#3")
            & F.when(F.col("p_size") >= 25, ~F.col("p_type").rlike("ECONOMY"))
               .otherwise(F.lit(True)))
    return part.filter(cond).select("p_partkey", "p_name", "p_size")


ORACLE_FILTER_PREDICATES = """
SELECT p_partkey, p_name, p_size FROM part
WHERE p_retailprice > 905
  AND regexp_matches(p_name, 'a')
  AND NOT regexp_matches(p_brand, 'Brand#3')
  AND (CASE WHEN p_size >= 25 THEN NOT regexp_matches(p_type, 'ECONOMY')
       ELSE TRUE END)
"""


def q_scalar_subquery_latest(spark, sf):
    """P4/A1: uncorrelated scalar-subquery max (latest snapshot)."""
    orders = _t(spark, sf, "orders")
    latest = orders.select(F.max("o_orderdate").alias("m"))
    return (orders.join(F.broadcast(latest),
                        F.col("o_orderdate") == F.col("m"))
            .select("o_orderkey", "o_custkey", "o_totalprice"))


ORACLE_SCALAR_SUBQUERY = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)
"""


def q_range_filter(spark, sf):
    """P5/P7: BETWEEN range filters (string + date)."""
    li = _t(spark, sf, "lineitem")
    return (li.filter(F.col("l_shipdate").cast("date")
                      .between("1995-01-01", "1995-12-31")
                      & F.col("l_returnflag").between("A", "N"))
            .select("l_orderkey", "l_linenumber", "l_returnflag",
                    F.col("l_shipdate").cast("date").alias("ship_date")))


ORACLE_RANGE_FILTER = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
  AND l_returnflag BETWEEN 'A' AND 'N'
"""


# ---------------------------------------------------------------------------
# Scalar function kit (SURVEY §2.4)
# ---------------------------------------------------------------------------


def q_cell_grammar(spark, sf):
    """F1-F5: the estimate-cell grammar (magnitude suffixes, parens,
    commas, NA) applied to synthesized cells."""
    part = _t(spark, sf, "part")
    cell = (F.when(F.col("p_partkey") % 6 == 0,
                   F.concat(F.col("p_size").cast("string"), F.lit(".5B")))
            .when(F.col("p_partkey") % 6 == 1,
                  F.concat(F.lit("("), F.col("p_size").cast("string"),
                           F.lit(")")))
            .when(F.col("p_partkey") % 6 == 2, F.lit("NA"))
            .when(F.col("p_partkey") % 6 == 3, F.lit("M"))
            .when(F.col("p_partkey") % 6 == 4,
                  F.concat(F.col("p_size").cast("string"), F.lit("T")))
            .otherwise(F.concat(F.lit("1,"),
                                F.lpad(F.col("p_size").cast("string"), 3, "0"))))
    # decimal rendered as trimmed text so the value hash is engine-neutral
    return part.select("p_partkey",
                       F.coalesce(decimal_text(E.clean_numeric_cell(cell)),
                                  F.lit("")).alias("cleaned"))


ORACLE_CELL_GRAMMAR = f"""
WITH cells AS (
  SELECT p_partkey,
    CASE p_partkey % 6
      WHEN 0 THEN p_size::VARCHAR || '.5B'
      WHEN 1 THEN '(' || p_size::VARCHAR || ')'
      WHEN 2 THEN 'NA'
      WHEN 3 THEN 'M'
      WHEN 4 THEN p_size::VARCHAR || 'T'
      ELSE '1,' || lpad(p_size::VARCHAR, 3, '0')
    END AS cell
  FROM part)
SELECT p_partkey,
  coalesce({_dt_sql("TRY_CAST(CASE norm WHEN 'NA' THEN NULL ELSE norm END AS DECIMAL(38,6))")}, '') AS cleaned
FROM (
  SELECT p_partkey,
    replace(replace(replace(replace(replace(replace(
      regexp_replace(trim(cell), '^M$', 'NA'),
      'T', 'e12'), 'B', 'e9'), 'M', 'e6'), '(', ''), ')', ''), ',', '') AS norm
  FROM cells)
"""


def q_date_arithmetic(spark, sf):
    """F8/F10 + A4 projection: month-end from "M/YYYY", prior-period keys,
    next-quarter-end — on real date columns, incl. month-end edges."""
    orders = _t(spark, sf, "orders")
    d = F.col("o_orderdate").cast("date")
    mm_yyyy = F.concat(F.month(d).cast("string"), F.lit("/"),
                       F.year(d).cast("string"))
    return orders.select(
        "o_orderkey",
        E.month_end_from_mm_yyyy(mm_yyyy).alias("month_end"),
        E.prior_period_date(F.last_day(d), F.lit("Quarter")).alias("prior_quarter"),
        E.prior_period_date(F.last_day(d), F.lit("Year")).alias("prior_year"),
        E.next_quarter_end(F.last_day(d)).alias("next_quarter"))


ORACLE_DATE_ARITHMETIC = """
SELECT o_orderkey,
  last_day(CAST(o_orderdate AS DATE)) AS month_end,
  CAST(last_day(CAST(o_orderdate AS DATE)) + INTERVAL 1 DAY
       - INTERVAL 3 MONTH - INTERVAL 1 DAY AS DATE) AS prior_quarter,
  CAST(last_day(CAST(o_orderdate AS DATE)) - INTERVAL 1 YEAR AS DATE) AS prior_year,
  CAST(last_day(CAST(o_orderdate AS DATE)) + INTERVAL 1 DAY
       + INTERVAL 3 MONTH - INTERVAL 1 DAY AS DATE) AS next_quarter
FROM orders
"""


def q_rank_to_int(spark, sf):
    """F12/F13: enum decode + to_integer_rank."""
    cust = _t(spark, sf, "customer")
    rank = (F.when(F.col("c_custkey") % 5 == 0, "Strong Buy")
            .when(F.col("c_custkey") % 5 == 1, "Buy")
            .when(F.col("c_custkey") % 5 == 2, "Hold")
            .when(F.col("c_custkey") % 5 == 3, "Sell")
            .otherwise("Strong Sell"))
    return cust.select("c_custkey", rank.alias("rank"),
                       E.to_integer_rank(rank).alias("int_rank"))


ORACLE_RANK_TO_INT = """
WITH r AS (
  SELECT c_custkey,
    CASE c_custkey % 5 WHEN 0 THEN 'Strong Buy' WHEN 1 THEN 'Buy'
      WHEN 2 THEN 'Hold' WHEN 3 THEN 'Sell' ELSE 'Strong Sell' END AS rank
  FROM customer)
SELECT c_custkey, rank,
  CASE rank WHEN 'Strong Buy' THEN 1 WHEN 'Buy' THEN 2 WHEN 'Hold' THEN 3
    WHEN 'Sell' THEN 4 WHEN 'Strong Sell' THEN 5 END AS int_rank
FROM r
"""


def q_symbol_universe(spark, sf):
    """S4/P1-P5 + F14: the reference's symbol-universe query shape over a
    symbol dimension synthesized deterministically from customer, incl.
    flag filters, regex predicates, the 5th-letter CASE, the
    latest-snapshot scalar subquery, a resumable range, and export text
    rendering (coalesce NULL→'')."""
    from zacks_estimates_financial_statements_spark.sources.universe import symbol_universe
    cust = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    # 5-letter symbol from the numeric suffix, A-Z alphabet
    letter = lambda i: F.char(F.lit(65) + ((k / F.lit(26 ** i)).cast("long") % 26))  # noqa: E731
    sym = F.concat(letter(4), letter(3), letter(2), letter(1), letter(0))
    dim = cust.select(
        sym.alias("act_symbol"),
        F.when(k % 11 == 0, F.concat(sym, F.lit("$"))).otherwise(sym)
         .alias("nasdaq_symbol"),
        F.when(k % 13 == 0, F.lit("Acme ETN Note"))
         .when(k % 7 == 3, F.lit("Acme Warrant"))
         .otherwise(F.lit("Acme Common Stock")).alias("security_name"),
        (k % 17 == 0).alias("is_etf"),
        (k % 19 == 0).alias("is_test_issue"),
        (k % 23 == 0).alias("is_next_shares"),
        F.when(k % 29 == 0, F.lit("2024-01-01").cast("date"))
         .otherwise(F.lit("2024-06-01").cast("date")).alias("last_seen"))
    uni = symbol_universe(dim, first_symbol="AAAAA", last_symbol="ZZZZZ")
    return uni.select("act_symbol").distinct()


ORACLE_SYMBOL_UNIVERSE = """
WITH dim AS (
  SELECT
    -- r12 extreme dial: BIGINT (an extreme key / 456976 overflows
    -- INT32) and trunc-toward-zero (Spark's cast("long"); DuckDB's
    -- floor() would round a negative quotient DOWN instead)
    chr(CAST(65 + trunc(c_custkey / 456976)::BIGINT % 26 AS INT))
    || chr(CAST(65 + trunc(c_custkey / 17576)::BIGINT % 26 AS INT))
    || chr(CAST(65 + trunc(c_custkey / 676)::BIGINT % 26 AS INT))
    || chr(CAST(65 + trunc(c_custkey / 26)::BIGINT % 26 AS INT))
    || chr(CAST(65 + c_custkey % 26 AS INT)) AS act_symbol,
    c_custkey % 11 = 0 AS has_dollar,
    CASE WHEN c_custkey % 13 = 0 THEN 'Acme ETN Note'
         WHEN c_custkey % 7 = 3 THEN 'Acme Warrant'
         ELSE 'Acme Common Stock' END AS security_name,
    c_custkey % 17 = 0 AS is_etf,
    c_custkey % 19 = 0 AS is_test_issue,
    c_custkey % 23 = 0 AS is_next_shares,
    CASE WHEN c_custkey % 29 = 0 THEN DATE '2024-01-01'
         ELSE DATE '2024-06-01' END AS last_seen
  FROM customer),
dim2 AS (
  SELECT *, CASE WHEN has_dollar THEN act_symbol || '$' ELSE act_symbol END
    AS nasdaq_symbol FROM dim)
SELECT DISTINCT act_symbol FROM dim2
WHERE is_etf = FALSE AND is_test_issue = FALSE AND is_next_shares = FALSE
  AND NOT regexp_matches(security_name, 'ETN')
  AND NOT regexp_matches(nasdaq_symbol, '[-$+*#!@%^=~]')
  AND (CASE WHEN regexp_matches(nasdaq_symbol, '[A-Z]{4}[L-Z]')
       THEN NOT regexp_matches(security_name, '(Note|Preferred|Right|Unit|Warrant)')
       ELSE TRUE END)
  AND last_seen = (SELECT max(last_seen) FROM dim2)
  AND act_symbol >= 'AAAAA' AND act_symbol <= 'ZZZZZ'
"""


def q_export_text(spark, sf):
    """F14 + decimal text rendering: the dump cast surface."""
    from zacks_estimates_financial_statements_spark.export import decimal_text
    orders = _t(spark, sf, "orders")
    price = _dec(F.col("o_totalprice"))
    nullable = F.when(F.col("o_orderkey") % 3 == 0, price)
    return orders.select(
        "o_orderkey",
        F.coalesce(decimal_text(nullable), F.lit("")).alias("price_text"),
        E.export_text(F.col("o_orderdate").cast("date")).alias("date_text"))


ORACLE_EXPORT_TEXT = f"""
SELECT o_orderkey,
  coalesce(CASE WHEN o_orderkey % 3 = 0 THEN
    {_dt_sql(_decg('o_totalprice'))} END, '') AS price_text,
  coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '') AS date_text
FROM orders
"""


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf):
    """A1-A5 composite (TPC-H Q1 shape): grouped sums/counts with exact
    decimal accumulation."""
    li = _t(spark, sf, "lineitem")
    agg = (li.filter(F.col("l_shipdate").cast("date") <= "1998-09-02")
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(_dec(F.col("l_quantity"))).cast(DEC).alias("sq"),
                F.sum(_dec(F.col("l_extendedprice"))).cast(DEC).alias("sbp"),
                F.sum(_dec(F.col("l_extendedprice"))
                      * _dec(F.lit(1) - F.col("l_discount"))).cast(DEC)
                .alias("sdp"),
                F.count(F.lit(1)).alias("count_order")))
    # decimal sums rendered as trimmed text (engine-neutral value hash)
    return agg.select(
        "l_returnflag", "l_linestatus",
        decimal_text(F.col("sq")).alias("sum_qty"),
        decimal_text(F.col("sbp")).alias("sum_base_price"),
        decimal_text(F.col("sdp")).alias("sum_disc_price"),
        "count_order")


ORACLE_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
  {_dt_sql(f"CAST(sum({_decg('l_quantity')}) AS DECIMAL(38,6))")} AS sum_qty,
  {_dt_sql(f"CAST(sum({_decg('l_extendedprice')}) AS DECIMAL(38,6))")} AS sum_base_price,
  {_dt_sql(f"CAST(sum({_decg('l_extendedprice')} * {_decg('1 - l_discount')}) AS DECIMAL(38,6))")} AS sum_disc_price,
  count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_bool_and_guard(spark, sf):
    """A2: bool_and with three-valued logic (the sni guard's aggregate)."""
    li = _t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.bool_and(F.col("l_discount") < 0.05).alias("all_low_disc"),
                 F.bool_and(F.when(F.col("l_tax") > 0,
                                   F.col("l_quantity") > 0)).alias("mixed_null"),
                 F.count(F.lit(1)).alias("n")))


ORACLE_BOOL_AND = """
SELECT l_returnflag,
  bool_and(l_discount < 0.05) AS all_low_disc,
  bool_and(CASE WHEN l_tax > 0 THEN l_quantity > 0 END) AS mixed_null,
  count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_grouped_max_projection(spark, sf):
    """A3/A4: group-wise max + date projection (next expected quarter-end
    per customer)."""
    orders = _t(spark, sf, "orders")
    return (orders.groupBy("o_custkey")
            .agg(F.max(F.col("o_orderdate").cast("date")).alias("last_order"))
            .select("o_custkey", "last_order",
                    E.next_quarter_end(F.col("last_order"))
                    .alias("projected_next")))


ORACLE_GROUPED_MAX = """
SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
  CAST(max(CAST(o_orderdate AS DATE)) + INTERVAL 1 DAY + INTERVAL 3 MONTH
       - INTERVAL 1 DAY AS DATE) AS projected_next
FROM orders GROUP BY o_custkey
"""


def q_distinct_dates(spark, sf):
    """A5: DISTINCT projection (the dump-driver loop source)."""
    orders = _t(spark, sf, "orders")
    return (orders.select(F.col("o_orderdate").cast("date").alias("d"),
                          "o_orderpriority").distinct())


ORACLE_DISTINCT = """
SELECT DISTINCT CAST(o_orderdate AS DATE) AS d, o_orderpriority FROM orders
"""


# ---------------------------------------------------------------------------
# Joins / set ops (SURVEY §2.6-2.7)
# ---------------------------------------------------------------------------


def q_star_join(spark, sf):
    """J1/J4 + O1: the star-schema equi-join chain with broadcast dims."""
    orders, cust = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    nation, region = _t(spark, sf, "nation"), _t(spark, sf, "region")
    return (orders
            .join(F.broadcast(cust),
                  orders["o_custkey"] == cust["c_custkey"])
            .join(F.broadcast(nation),
                  cust["c_nationkey"] == nation["n_nationkey"])
            .join(F.broadcast(region),
                  nation["n_regionkey"] == region["r_regionkey"])
            .groupBy("r_name", "n_name")
            .agg(F.count(F.lit(1)).alias("orders_cnt"),
                 F.sum(_dec(F.col("o_totalprice"))).cast(DEC).alias("rev"))
            .select("r_name", "n_name", "orders_cnt",
                    decimal_text(F.col("rev")).alias("revenue")))


ORACLE_STAR_JOIN = f"""
SELECT r_name, n_name, count(*) AS orders_cnt,
  {_dt_sql(f"CAST(sum({_decg('o_totalprice')}) AS DECIMAL(38,6))")} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_range_join(spark, sf):
    """J2: equi + range-residual join (the reporting-window assignment)."""
    orders, li = _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    od = F.col("o_orderdate").cast("date")
    sd = F.col("l_shipdate").cast("date")
    joined = li.join(orders,
                     (li["l_orderkey"] == orders["o_orderkey"])
                     & (sd > od) & (sd <= F.date_add(od, 60)))
    return (joined.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("shipped_in_window")))


ORACLE_RANGE_JOIN = """
SELECT o_orderpriority, count(*) AS shipped_in_window
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE)
  AND CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + 60
GROUP BY o_orderpriority
"""


def q_keep_latest_antijoin(spark, sf):
    """A3+J3 (delete-via-join): keep only each order's latest-shipped
    lines; the stale-row delete expressed as anti-join on the
    (key, date) identity.

    The condemned set is derived from the DISTINCT (key, date) pairs
    (map-side-combined before the shuffle) with a window max over that
    reduced relation — not by re-joining a grouped max against the full
    fact table, which would scan lineitem a third time for the same
    answer. Two fact scans, two narrow shuffles, broadcast anti-join."""
    from pyspark.sql import Window
    li = _t(spark, sf, "lineitem") \
        .withColumn("ship_date", F.col("l_shipdate").cast("date"))
    pairs = li.select("l_orderkey", "ship_date").distinct()
    w = Window.partitionBy("l_orderkey")
    condemned = (pairs.withColumn("__mx", F.max("ship_date").over(w))
                 .filter(F.col("ship_date") != F.col("__mx"))
                 .drop("__mx"))
    return (li.join(condemned, ["l_orderkey", "ship_date"], "left_anti")
            .select("l_orderkey", "l_linenumber", "ship_date"))


ORACLE_KEEP_LATEST = """
SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
FROM lineitem li
WHERE NOT EXISTS (
  SELECT 1 FROM (
    SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS max_ship
    FROM lineitem GROUP BY l_orderkey) m
  WHERE m.l_orderkey = li.l_orderkey
    AND CAST(li.l_shipdate AS DATE) != m.max_ship)
"""


def q_union_distinct(spark, sf):
    """J5/O2: UNION with dedup."""
    orders, li = _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    a = orders.select(F.col("o_orderkey").alias("k"),
                      F.col("o_orderdate").cast("date").alias("d"))
    b = li.select(F.col("l_orderkey").alias("k"),
                  F.col("l_shipdate").cast("date").alias("d"))
    return a.unionByName(b).distinct()


ORACLE_UNION_DISTINCT = """
SELECT o_orderkey AS k, CAST(o_orderdate AS DATE) AS d FROM orders
UNION
SELECT l_orderkey AS k, CAST(l_shipdate AS DATE) AS d FROM lineitem
"""


def q_keep_latest_window(spark, sf):
    """§2.7 note: the idiomatic window-function equivalent of group-wise
    max (row_number over partition, keep first)."""
    from pyspark.sql import Window
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type"))


ORACLE_KEEP_LATEST_WINDOW = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
    row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Write semantics as queries over before-state (SURVEY §2.8)
# ---------------------------------------------------------------------------


def q_upsert_ignore(spark, sf):
    """W1: first-write-wins upsert — after-state of inserting a batch
    (order keys shifted by 7, carrying new payloads) into orders."""
    orders = _t(spark, sf, "orders")
    # overflow contract (r12 extreme dial): a key within 7 of the int64
    # ceiling has no shifted twin — excluded from the batch on both sides
    batch = (orders.filter(F.col("o_orderkey") <= 9223372036854775800)
             .select((F.col("o_orderkey") + 7).alias("o_orderkey"),
                     F.lit("BATCH").alias("src")))
    existing = orders.select("o_orderkey", F.lit("EXISTING").alias("src"))
    fresh = batch.join(existing.select("o_orderkey"), "o_orderkey",
                       "left_anti")
    return existing.unionByName(fresh)


ORACLE_UPSERT_IGNORE = """
SELECT o_orderkey, 'EXISTING' AS src FROM orders
UNION ALL
SELECT b.o_orderkey, 'BATCH' AS src FROM (
  SELECT o_orderkey + 7 AS o_orderkey FROM orders
  WHERE o_orderkey <= 9223372036854775800) b
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = b.o_orderkey)
"""


def q_replace_window(spark, sf):
    """W4/W5: windowed replace — rows before the cutoff survive, the batch
    replaces the horizon."""
    orders = _t(spark, sf, "orders")
    cutoff = "1997-01-01"
    kept = orders.filter(F.col("o_orderdate").cast("date") < cutoff)
    batch = (orders.filter(F.col("o_orderdate").cast("date") >= cutoff)
             .withColumn("o_totalprice", F.lit(0.0)))
    return (kept.unionByName(batch)
            .select("o_orderkey",
                    F.col("o_orderdate").cast("date").alias("d"),
                    decimal_text(_dec(F.col("o_totalprice"))).alias("price")))


ORACLE_REPLACE_WINDOW = f"""
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
       {_dt_sql(_decg('o_totalprice'))} AS price
FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1997-01-01'
UNION ALL
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
       {_dt_sql("CAST(0.0 AS DECIMAL(38,6))")} AS price
FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
"""


def q_stale_cleanup(spark, sf):
    """J2+A3+J3 composite — the earnings-calendar stale-estimate cleanup
    (W6) through the ELT's own kernel, ``stale_earnings_keys``: events
    stand in for the calendar and orders for the balance sheet, both
    keyed (act_symbol, date); condemned events are removed (survivors
    returned)."""
    ev = (_t(spark, sf, "events")
          .select(F.col("user_id").alias("act_symbol"),
                  F.col("ts").cast("date").alias("date"), "event_id"))
    orders = (_t(spark, sf, "orders")
              .select(F.col("o_custkey").alias("act_symbol"),
                      F.col("o_orderdate").cast("date").alias("date")))
    condemned = calendar_pipeline.stale_earnings_keys(ev, orders)
    return (ev.join(condemned, ["act_symbol", "date"], "left_anti")
            .select("event_id", F.col("act_symbol").alias("uid"),
                    F.col("date").alias("ed")))


ORACLE_STALE_CLEANUP = """
WITH ev AS (
  SELECT user_id AS uid, CAST(ts AS DATE) AS ed, event_id FROM events),
windows AS (
  SELECT uid, wd,
    CAST(wd + INTERVAL 1 DAY + INTERVAL 3 MONTH - INTERVAL 1 DAY AS DATE) AS we
  FROM (
    SELECT DISTINCT o_custkey AS uid, CAST(o_orderdate AS DATE) AS wd FROM orders
    UNION
    SELECT o_custkey AS uid,
      CAST(max(CAST(o_orderdate AS DATE)) + INTERVAL 1 DAY + INTERVAL 3 MONTH
           - INTERVAL 1 DAY AS DATE) AS wd
    FROM orders GROUP BY o_custkey)),
condemned AS (
  SELECT DISTINCT ev.event_id
  FROM ev JOIN (
    SELECT ev.uid, w.wd, w.we, max(ev.ed) AS max_ed
    FROM ev JOIN windows w ON ev.uid = w.uid
      AND ev.ed > w.wd AND ev.ed <= w.we
    GROUP BY ev.uid, w.wd, w.we) ecm
  ON ev.uid = ecm.uid AND ev.ed != ecm.max_ed
    AND ev.ed > ecm.wd AND ev.ed <= ecm.we)
SELECT event_id, uid, ed FROM ev
WHERE NOT EXISTS (SELECT 1 FROM condemned c WHERE c.event_id = ev.event_id)
"""


# ---------------------------------------------------------------------------
# Dedup family (training-data extension)
# ---------------------------------------------------------------------------


def q_exact_dedup(spark, sf):
    docs = _t(spark, sf, "documents")
    return dedup.exact_dup_groups(docs, "doc_id", "text") \
        .select("fingerprint", "group_size", "keep_id")


ORACLE_EXACT_DEDUP = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
  count(*) AS group_size, min(doc_id) AS keep_id
FROM documents GROUP BY 1
"""

_SHINGLE_SQL = """
  SELECT doc_id, unnest(list_transform(
    generate_series(1, greatest(len(w) - {km1}, 1)),
    i -> array_to_string(w[i:i+{km1}], ' '))) AS shingle
  FROM (SELECT doc_id,
          string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        -- NULL contract (shingles_from_words): NULL text has NO
        -- shingles, hence no signature/fingerprint. Without the filter
        -- DuckDB's greatest() skips the NULL length (same trap as
        -- Spark's) and emits NULL-minhash sig rows Spark never makes.
        FROM documents WHERE text IS NOT NULL)
"""


def q_minhash_signatures(spark, sf):
    docs = _t(spark, sf, "documents")
    return dedup.minhash_signatures(docs, "doc_id", "text", k=12, shingle_k=3)


# The universal multiply-mod hash family shared with the Spark side:
# one md5 per shingle, then h_i = (a_i*base + b_i) mod 2^31-1 from the
# fixed MINHASH_PARAMS table (dedup.py).
_MINHASH_PARAMS_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(dedup.MINHASH_PARAMS[:12]))

_MINHASH_SIGS_CTE = f"""
base AS (
  SELECT doc_id,
    ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {dedup.MINHASH_P} AS b
  FROM shingled),
params(hash_idx, ha, hb) AS (VALUES {_MINHASH_PARAMS_SQL}),
sigs AS (
  SELECT doc_id, hash_idx::BIGINT AS hash_idx,
    min((ha * b + hb) % {dedup.MINHASH_P}) AS minhash
  FROM base CROSS JOIN params
  GROUP BY doc_id, hash_idx)"""

ORACLE_MINHASH_SIGS = f"""
WITH shingled AS ({_SHINGLE_SQL.format(km1=2)}),
{_MINHASH_SIGS_CTE}
SELECT doc_id, hash_idx, minhash FROM sigs
"""


def q_minhash_near_dup_pairs(spark, sf):
    docs = _t(spark, sf, "documents")
    return dedup.minhash_near_dup_pairs(docs, "doc_id", "text", k=12, bands=4)


# banded-LSH candidate CTEs over `sigs` — shared by every oracle that
# consumes the MinHash pair graph (pairs, clusters, curation composite,
# cross-modal check)
_LSH_CAND_CTES = """buckets AS (
  SELECT doc_id, hash_idx % 4 AS band,
    md5(string_agg(lpad(hash_idx::VARCHAR, 4, '0') || ':' || minhash::VARCHAR,
        ',' ORDER BY lpad(hash_idx::VARCHAR, 4, '0') || ':' || minhash::VARCHAR))
    AS bucket
  FROM sigs GROUP BY doc_id, band),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""

# the est_jaccard scoring select over cand + sigs, likewise shared
_LSH_SCORED_SELECT = """
  SELECT c.id_a, c.id_b,
    sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 12.0
      AS est_jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b AND sb.hash_idx = sa.hash_idx
  GROUP BY c.id_a, c.id_b"""

ORACLE_MINHASH_PAIRS = f"""
WITH shingled AS ({_SHINGLE_SQL.format(km1=2)}),
{_MINHASH_SIGS_CTE},
{_LSH_CAND_CTES}
{_LSH_SCORED_SELECT}
"""


def q_split_leakage(spark, sf):
    """Train/val leakage detector — the QA pass a pipeline runs AFTER
    splitting: near-dup pairs (MinHash LSH) whose members landed on
    opposite sides of a deterministic hash split. Pure composition of
    `hash_split` + `minhash_near_dup_pairs`; the tiny pair relation
    broadcasts into the split-assignment joins."""
    docs = _t(spark, sf, "documents")
    split = curation.hash_split(docs, "doc_id", {"val": 1, "train": 9},
                                seed="leakage")
    pairs = dedup.minhash_near_dup_pairs(docs, "doc_id", "text",
                                         k=12, bands=4)
    sa = split.select(F.col("doc_id").alias("id_a"),
                      F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("id_b"),
                      F.col("split").alias("split_b"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .filter(F.col("split_a") != F.col("split_b"))
            .select("id_a", "id_b", "est_jaccard",
                    "split_a", "split_b"))


ORACLE_SPLIT_LEAKAGE = f"""
WITH shingled AS ({_SHINGLE_SQL.format(km1=2)}),
{_MINHASH_SIGS_CTE},
{_LSH_CAND_CTES},
scored AS ({_LSH_SCORED_SELECT}),
split AS (
  SELECT doc_id,
    CASE WHEN ('0x' || substr(md5('leakage|' || doc_id::VARCHAR), 1, 15))
              ::BIGINT % 1000000 < 100000
         THEN 'val' ELSE 'train' END AS s
  FROM documents)
SELECT sc.id_a, sc.id_b, sc.est_jaccard,
  a.s AS split_a, b.s AS split_b
FROM scored sc
JOIN split a ON sc.id_a = a.doc_id
JOIN split b ON sc.id_b = b.doc_id
WHERE a.s <> b.s
"""


def q_incremental_dedup(spark, sf):
    """Ingestion-time dedup gate: docs 0-99 arrive as a NEW batch and
    probe the stored LSH index of the rest of the corpus (docs 100+).
    Only the batch is sketched; its bucket rows broadcast into the
    index probe, so the stored corpus never re-sketches and never
    shuffles — the incremental complement of the corpus-vs-itself
    sweep in q_minhash_near_dup_pairs."""
    docs = _t(spark, sf, "documents")
    index = dedup.minhash_index(docs.filter(F.col("doc_id") >= 100),
                                "doc_id", "text", k=12, bands=4)
    batch = docs.filter(F.col("doc_id") < 100)
    return dedup.incremental_minhash_pairs(index, batch,
                                           "doc_id", "text",
                                           k=12, bands=4)


ORACLE_INCREMENTAL_DEDUP = f"""
WITH shingled AS ({_SHINGLE_SQL.format(km1=2)}),
{_MINHASH_SIGS_CTE},
buckets AS (
  SELECT doc_id, hash_idx % 4 AS band,
    md5(string_agg(lpad(hash_idx::VARCHAR, 4, '0') || ':' || minhash::VARCHAR,
        ',' ORDER BY lpad(hash_idx::VARCHAR, 4, '0') || ':' || minhash::VARCHAR))
    AS bucket
  FROM sigs GROUP BY doc_id, band),
cand AS (
  SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS corpus_id
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id >= 100 AND b.doc_id < 100)
SELECT c.batch_id, c.corpus_id,
  sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 12.0
    AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.corpus_id
JOIN sigs sb ON sb.doc_id = c.batch_id AND sb.hash_idx = sa.hash_idx
GROUP BY c.batch_id, c.corpus_id
"""


def q_simhash(spark, sf):
    docs = _t(spark, sf, "documents")
    return dedup.simhash_bits(docs, "doc_id", "text")


ORACLE_SIMHASH = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(
    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
  FROM documents),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th
  FROM toks WHERE tok != ''),
votes AS (
  SELECT doc_id, bit,
    sum(CASE WHEN (th >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit)
  GROUP BY doc_id, bit)
SELECT doc_id,
  CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END)
       AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def q_simhash_pairs(spark, sf):
    """SimHash near-dup pairs via pigeonhole banding (hamming ≤ 3 →
    4 16-bit bands; any qualifying pair matches ≥1 band exactly, so the
    candidate step is an equi-join with exact recall)."""
    docs = _t(spark, sf, "documents")
    return dedup.simhash_near_dup_pairs(docs, "doc_id", "text",
                                        max_hamming=3)


ORACLE_SIMHASH_PAIRS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(
    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
  FROM documents),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th
  FROM toks WHERE tok != ''),
votes AS (
  SELECT doc_id, bit,
    sum(CASE WHEN (th >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit)
  GROUP BY doc_id, bit),
sh AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END)
         AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id),
u AS (
  SELECT doc_id, simhash,
    CASE WHEN simhash >= 0 THEN simhash::HUGEINT
         ELSE simhash::HUGEINT + 18446744073709551616::HUGEINT END AS us
  FROM sh),
bands AS (
  SELECT doc_id, simhash, band, CAST((us // d) % 65536 AS BIGINT) AS bits
  FROM u CROSS JOIN (VALUES (0, 281474976710656::HUGEINT),
                            (1, 4294967296::HUGEINT),
                            (2, 65536::HUGEINT),
                            (3, 1::HUGEINT)) AS t(band, d))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
  bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_leakage_safe_split(spark, sf):
    """Cluster-keyed train/val/test assignment
    (curation.leakage_safe_split): simhash near-dup pairs collapse to
    connected components and the COMPONENT label is the split hash key,
    so two near-duplicate documents can never straddle the eval
    boundary — the failure mode `split_leakage` audits for, prevented
    structurally. The oracle recomputes the pairs closed-form
    (ORACLE_SIMHASH_PAIRS's procedure), labels components with a
    recursive transitive closure, and replays the keyed-md5 split."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.simhash_near_dup_pairs(docs, "doc_id", "text",
                                         max_hamming=3)
    out = curation.leakage_safe_split(docs.select("doc_id"), "doc_id",
                                      pairs, _SPLIT_WEIGHTS)
    return out.select("doc_id", "bucket", "split")


def _oracle_leakage_safe_split() -> str:
    pair_body = ORACLE_SIMHASH_PAIRS.strip()
    assert pair_body.startswith("WITH ")
    th = curation.split_thresholds(_SPLIT_WEIGHTS)
    branches = "\n    ".join(f"WHEN bucket < {t} THEN '{name}'"
                             for name, t in th[:-1])
    return f"""
{pair_body[:pair_body.index('SELECT DISTINCT')].rstrip()},
pr AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pr
  UNION ALL SELECT id_b, id_a FROM pr),
comp AS (
  WITH RECURSIVE reach(id, lab) AS (
    SELECT s, s FROM edges
    UNION
    SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.id)
  SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id),
keyed AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS g
  FROM documents d LEFT JOIN comp c USING (doc_id)),
b AS (
  SELECT doc_id,
    ('0x' || substr(md5('split|' || g::VARCHAR), 1, 15))::BIGINT
      % 1000000 AS bucket
  FROM keyed)
SELECT doc_id, bucket,
  -- NULL contract (hash_split): a NULL id has no hash, hence NO split
  -- (the bare ELSE would dump NULL buckets into the last split)
  CASE WHEN bucket IS NULL THEN NULL
       {branches} ELSE '{th[-1][0]}' END AS split
FROM b
"""


def q_ngram_jaccard_pairs(spark, sf):
    """Exact-Jaccard verification over the banded MinHash candidate
    tier (r12, the corpus-scale shape): candidates come from
    ``minhash_near_dup_pairs``' band-bucket equi-join, exact measures
    from per-doc distinct-shingle arrays — the pair×shingle fan-out
    (367 shuffle rows per row scanned, SHUFFLE.md r11) is gone; recall
    is the banding's, the measure is exact. The twin mirrors the same
    two tiers (the shared _LSH_CAND_CTES banding + exact counts on
    candidate pairs)."""
    docs = _t(spark, sf, "documents")
    cands = dedup.minhash_near_dup_pairs(docs, "doc_id", "text",
                                         k=12, bands=4)
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3,
                                     min_jaccard=0.2, candidates=cands)


def q_containment_pairs(spark, sf):
    """Asymmetric containment near-dup (operators/dedup.py
    ``containment_pairs``): |A∩B|/|A| per direction over distinct word
    shingles — catches the quote/inclusion shape Jaccard misses (a doc
    embedded in a longer one). Runs the SIZE-PARTITIONED ensemble
    admission (r13, LSH-Ensemble-style): documents with ≤16 distinct
    shingles — the regime where containment ≥ 0.3 can mean only 3
    shared shingles, invisible to any sketch, and exactly where
    symmetric MinHash banding was measured to drop 20/276 sf0.1
    pairs — get an exact broadcast posting-list probe (combinatorial
    recall for the small side); large×large pairs come from the banded
    MinHash admission; measures are exact per-doc arrays. Measured
    pair-set-identical to the r12 exact tier at sf0.001/0.01/0.1 with
    the 260× pair×shingle shuffle gone. The twin mirrors both admission
    legs (small posting join + _LSH_CAND_CTES) and the exact counts."""
    docs = _t(spark, sf, "documents")
    out = dedup.containment_pairs(docs, "doc_id", "text", shingle_k=3,
                                  min_containment=0.3,
                                  admission="ensemble",
                                  small_max_shingles=16)
    return out.select("id_a", "id_b",
                      F.round("containment_a", 6).alias("containment_a"),
                      F.round("containment_b", 6).alias("containment_b"))


# exact shared-shingle counts restricted to the banded candidate pairs —
# the twin of dedup._candidate_shingle_counts over _LSH_CAND_CTES' cand
_CAND_SHARED_CTES = f"""
sh AS (SELECT DISTINCT * FROM ({_SHINGLE_SQL.format(km1=2)})),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.id_a, c.id_b, count(*) AS shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b)"""

ORACLE_CONTAINMENT = f"""
WITH shingled AS ({_SHINGLE_SQL.format(km1=2)}),
{_MINHASH_SIGS_CTE},
{_LSH_CAND_CTES},
sh AS (SELECT DISTINCT * FROM ({_SHINGLE_SQL.format(km1=2)})),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
-- size-partitioned admission (r13): every pair sharing a shingle with
-- a <=16-shingle doc (exact small-side posting probe) UNION the banded
-- MinHash cohabitants (large x large)
small_cand AS (
  SELECT DISTINCT least(p.doc_id, s.doc_id) AS id_a,
                  greatest(p.doc_id, s.doc_id) AS id_b
  FROM sh s
  JOIN sizes ss ON ss.doc_id = s.doc_id AND ss.n <= 16
  JOIN sh p ON p.shingle = s.shingle AND p.doc_id <> s.doc_id),
allcand AS (
  SELECT id_a, id_b FROM small_cand
  UNION
  SELECT id_a, id_b FROM cand),
shared AS (
  SELECT c.id_a, c.id_b, count(*) AS shared
  FROM allcand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b)
SELECT id_a, id_b,
  round(shared / na.n, 6) AS containment_a,
  round(shared / nb.n, 6) AS containment_b
FROM shared
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE shared / na.n >= 0.3 OR shared / nb.n >= 0.3
"""


def q_tfidf_pairs(spark, sf):
    """Sparse TF-IDF cosine related-document pairs (operators/dedup.py
    ``tfidf_cosine_pairs``): lexical vector-space similarity without
    embeddings; per-token cohabitant groups emit anchor-first pair
    partials, stopword-class tokens (df > 50) excluded from the join
    but kept in the norms."""
    docs = _t(spark, sf, "documents")
    # df cap: 10% of docs, BOUNDED at 1000. The fraction keeps the
    # join non-empty at small sf (common-token df grows with N here);
    # the absolute bound is the 100 TB lever — on a static-vocabulary
    # corpus a pure fraction READMITS stopword-class tokens as N grows
    # (measured on synth-sf1: cap 5000 admits 300 tokens carrying
    # 4.5e9 pair-partials -> executor OOM; cap 1000 admits 10 tokens,
    # 6.3e5 partials). Sum(df^2) over admitted tokens IS the work; an
    # uncapped stopword is alone quadratic (operator docstring).
    cap = min(max(docs.count() // 10, 1), 1000)
    return dedup.tfidf_cosine_pairs(docs, "doc_id", "text",
                                    min_cosine=0.2, max_token_df=cap)


ORACLE_TFIDF_PAIRS = """
WITH toks AS (
  SELECT doc_id, tok AS token, count(*) AS tf FROM (
    SELECT doc_id,
      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                         x -> x <> '')) AS tok
    FROM documents) GROUP BY doc_id, tok),
nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
dfreq AS (
  SELECT token, count(*) AS dfreq,
    round(ln(((SELECT n FROM nn) + 1.0) / (count(*) + 1.0)) + 1.0, 6)
      AS idf
  FROM toks GROUP BY token),
weighted AS (
  SELECT t.doc_id, t.token, d.dfreq, round(t.tf * d.idf, 6) AS w
  FROM toks t JOIN dfreq d USING (token)),
norms AS (
  SELECT doc_id, sum(round(w * w, 6)::DECIMAL(38,6)) AS n2
  FROM weighted GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    sum(round(a.w * b.w, 6)::DECIMAL(38,6)) AS dot
  FROM weighted a
  JOIN weighted b ON a.token = b.token AND a.doc_id < b.doc_id
  -- df cap mirrored from q_tfidf_pairs: fraction for small sf,
  -- absolute 1000 bound for static-vocab scale (stopword readmission)
  WHERE a.dfreq <= (SELECT least(greatest(count(*) // 10, 1), 1000)
                    FROM documents)
    AND b.dfreq <= (SELECT least(greatest(count(*) // 10, 1), 1000)
                    FROM documents)
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
  round(dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6)
    AS cosine
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE round(dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)), 6)
      >= 0.2
"""


ORACLE_NGRAM_JACCARD = f"""
WITH shingled AS ({_SHINGLE_SQL.format(km1=2)}),
{_MINHASH_SIGS_CTE},
{_LSH_CAND_CTES},
{_CAND_SHARED_CTES}
SELECT id_a, id_b, shared / (na.n + nb.n - shared) AS jaccard
FROM shared
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE shared / (na.n + nb.n - shared) >= 0.2
"""


# ---------------------------------------------------------------------------
# Similarity search (training-data extension)
# ---------------------------------------------------------------------------

_COS_SQL = """
  list_reduce(list_transform(list_zip({a}, {b}),
              p -> p[1]::DOUBLE * p[2]::DOUBLE), (x, y) -> x + y)
  / (sqrt(list_reduce(list_transform({a}, v -> v::DOUBLE * v::DOUBLE),
          (x, y) -> x + y))
     * sqrt(list_reduce(list_transform({b}, v -> v::DOUBLE * v::DOUBLE),
            (x, y) -> x + y)))
"""

_SIGNBITS_SQL = """
  list_reduce(list_prepend(0::BIGINT, list_transform({v}[1:6],
    x -> CASE WHEN x >= 0 THEN 1::BIGINT ELSE 0::BIGINT END)),
    (a, b) -> a * 2 + b)
"""


def q_topk_cosine(spark, sf):
    emb = _emb(spark, sf)
    queries = (_emb1(spark, sf).orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    out = similarity.topk_bruteforce(emb, queries, k=10)
    return out.select("query_id", "vec_id",
                      F.round(F.col("cosine"), 6).alias("cosine"), "rank")


ORACLE_TOPK_COSINE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_vec FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
  ORDER BY vec_id LIMIT 5),
scored AS (
  SELECT q.query_id, e.vec_id,
    {_COS_SQL.format(a='e.embedding', b='q.query_vec')} AS cos
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored)
SELECT query_id, vec_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= 10
"""


def q_margin_topk(spark, sf):
    """Margin-based NN scoring (similarity.margin_topk, Artetxe &
    Schwenk ACL'19 ratio margin): forward top-4 pairs of the 5 lowest
    query ids re-scored by cosine over the mean of both neighborhoods
    — the bitext-mining / hubness-normalized alignment criterion.
    Exact candidate tiers here (oracle-checkable); ivf/lsh swap in at
    corpus×corpus scale with the same contract."""
    emb = _emb(spark, sf)
    queries = (_emb1(spark, sf).orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    return similarity.margin_topk(emb, queries, k=_MARGIN_K)


# Shared k for q_margin_topk and its twin: the margin numerator is
# cos*2k (mean of two k-sized neighborhoods folded into the division),
# so the SQL literal MUST track the operator's k (ADVICE r9: a
# hard-coded 8.0 would silently diverge if k ever changed).
_MARGIN_K = 4

ORACLE_MARGIN_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_vec FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
  ORDER BY vec_id LIMIT 5),
fs AS (
  SELECT q.query_id, e.vec_id,
    {_COS_SQL.format(a='e.embedding', b='q.query_vec')} AS cos
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e CROSS JOIN q),
fwd AS (
  SELECT * FROM (
    SELECT query_id, vec_id, cos, row_number() OVER
      (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS r
    FROM fs) WHERE r <= {_MARGIN_K}),
bwd AS (
  SELECT * FROM (
    SELECT query_id, vec_id, cos, row_number() OVER
      (PARTITION BY vec_id ORDER BY cos DESC, query_id) AS r
    FROM fs) WHERE r <= {_MARGIN_K}),
-- neighborhood SUMS stay exact decimal; /k folds into the margin
-- division (margin = cos*2k / (S_fwd+S_bwd)) — rounding each MEAN to
-- 6 first put the 7th digit on a .5 boundary ~1/4 of the time and the
-- engines resolve the half-case differently (sf0.1 find; operator
-- docstring)
afwd AS (
  SELECT query_id,
    sum(round(cos, 6)::DECIMAL(38,6)) AS sfwd
  FROM fwd GROUP BY query_id),
abwd AS (
  SELECT vec_id,
    sum(round(cos, 6)::DECIMAL(38,6)) AS sbwd
  FROM bwd GROUP BY vec_id),
sc AS (
  SELECT f.query_id, f.vec_id, round(f.cos, 6) AS cosine,
    round((round(f.cos, 6) * {2.0 * _MARGIN_K}) / (a.sfwd + b.sbwd)::DOUBLE, 6)
      AS margin
  FROM fwd f JOIN afwd a USING (query_id) JOIN abwd b USING (vec_id))
SELECT query_id, vec_id, cosine, margin,
  row_number() OVER (PARTITION BY query_id
                     ORDER BY margin DESC, vec_id) AS rank
FROM sc
"""


def q_hard_negatives(spark, sf):
    """Hard-negative mining (similarity.mine_hard_negatives): per
    anchor, the most-similar corpus vectors that are NOT its known
    positives (self counts as one) — the offline contrastive-training
    feed. Anchors = 5 lowest ids; positives planted as
    (a, a + 250 + a % 3). Exact candidate tier (the oracle-checkable
    default); lsh/ivf swap in for the 100 TB path with the same
    contract."""
    emb = _emb(spark, sf)
    anchors = (_emb1(spark, sf).orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("embedding").alias("anchor_vec")))
    # overflow contract (r12): Catalyst may reassociate the chain as
    # (a + a%3) + 250, so LONG_MIN underflows before the +250 — a
    # planted positive exists only for range-safe anchors (NULL
    # otherwise: NULL never equi-joins, i.e. "no positive")
    a = F.col("anchor_id")
    safe = (a > -9223372036854775556) & (a < 9223372036854775556)
    positives = anchors.select(
        "anchor_id",
        F.when(safe, a + 250 + a % 3).alias("vec_id"))
    out = similarity.mine_hard_negatives(emb, anchors, positives,
                                         n_negatives=5, candidate_k=20)
    return out.select("anchor_id", "vec_id",
                      F.round(F.col("cosine"), 6).alias("cosine"),
                      "neg_rank")


ORACLE_HARD_NEGATIVES = f"""
WITH a AS (
  SELECT vec_id AS anchor_id, embedding AS avec FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
  ORDER BY vec_id LIMIT 5),
pos AS (
  -- overflow contract (r12): planted positive only for range-safe
  -- anchors (mirror of the Spark-side guard; NULL = no positive)
  SELECT anchor_id,
    CASE WHEN anchor_id > -9223372036854775556
          AND anchor_id < 9223372036854775556
         THEN anchor_id + 250 + anchor_id % 3 END AS vec_id FROM a
  UNION ALL SELECT anchor_id, anchor_id FROM a),
scored AS (
  SELECT a.anchor_id, e.vec_id,
    {_COS_SQL.format(a='e.embedding', b='a.avec')} AS cos
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e CROSS JOIN a),
cand AS (
  SELECT anchor_id, vec_id, cos,
    row_number() OVER (PARTITION BY anchor_id
                       ORDER BY cos DESC, vec_id) AS rank
  FROM scored),
neg AS (
  SELECT c.anchor_id, c.vec_id, c.cos
  FROM cand c LEFT JOIN pos p USING (anchor_id, vec_id)
  WHERE c.rank <= 20 AND p.vec_id IS NULL)
SELECT anchor_id, vec_id, round(cos, 6) AS cosine,
  (row_number() OVER (PARTITION BY anchor_id
                      ORDER BY cos DESC, vec_id))::INT AS neg_rank
FROM neg
QUALIFY neg_rank <= 5
"""


def q_embedding_near_dup(spark, sf):
    """Embedding near-dup via the sign-bit-bucketed scale path
    (bucket_bits>0 → equi-join on the SRP sketch, never all-pairs; the
    exact crossJoin baseline is covered by unit tests instead)."""
    emb = _emb(spark, sf)
    out = dedup.embedding_near_dup_pairs(emb, "vec_id", "embedding",
                                         min_cosine=0.2, bucket_bits=6)
    return out.select("id_a", "id_b",
                      F.round(F.col("cosine"), 6).alias("cosine"))


ORACLE_EMBEDDING_NEAR_DUP = f"""
WITH bk AS (
  SELECT vec_id, embedding,
    {_SIGNBITS_SQL.format(v='embedding')} AS bkt
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) embeddings)
-- duplicate-id contract (_bucket_pairs): pair lists are DISTINCT and
-- self-pair-free — duplicate physical rows of one id add nothing
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
  round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cosine
FROM bk a JOIN bk b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= 0.2
"""


def q_semantic_dedup(spark, sf):
    """SemDeDup-style semantic dedup (operators/dedup.py): IVF-cluster
    the embedding corpus (deterministic lowest-id seed centroids), then drop every vector
    with a smaller-id intra-cluster twin at cosine >= threshold. The
    low 0.2 threshold makes the synthetic random embeddings actually
    produce duplicate verdicts worth checking."""
    emb = _emb(spark, sf)
    out = dedup.semantic_dedup(emb, "vec_id", "embedding",
                               n_centroids=16, min_cosine=0.2)
    return out.select("vec_id", "centroid_id", "dup_of", "keep")


ORACLE_SEMANTIC_DEDUP = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
  ORDER BY vec_id LIMIT 16),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC, c.centroid_id)
      AS rn
    FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e CROSS JOIN cent c)
  WHERE rn = 1),
cl AS (
  SELECT e.vec_id, e.embedding, a.centroid_id
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e JOIN assign a ON e.vec_id = a.vec_id),
dup_pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cl a JOIN cl b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= 0.2),
drops AS (
  SELECT id_b AS vec_id, min(id_a) AS dup_of FROM dup_pairs GROUP BY id_b)
SELECT cl.vec_id, cl.centroid_id, d.dup_of, d.dup_of IS NULL AS keep
FROM cl LEFT JOIN drops d ON cl.vec_id = d.vec_id
"""


def q_sessionize_batch(spark, sf):
    """Batch twin of the streaming sessionization operator: gap-based
    sessions per user via window functions (new session when the gap to
    the previous event exceeds 30 minutes)."""
    from pyspark.sql import Window
    ev = _t(spark, sf, "events")
    # NULL contract: sessionization needs a user key, a time, and the
    # event-id tie-break — NULL rows are excluded (oracle twin matches;
    # Spark and DuckDB disagree on NULL order in the session window)
    ev = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull()
                   & F.col("event_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("long")
           - F.lag(F.col("ts").cast("long")).over(w)) > 1800
    marked = ev.withColumn(
        "new_session", F.when(gap.isNull() | ~gap, 0).otherwise(1))
    sess = marked.withColumn(
        "session_idx", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    # timestamps surfaced as epoch-microsecond BIGINT (engine-neutral hash)
    return (sess.groupBy("user_id",
                         F.col("session_idx").cast("long").alias("session_idx"))
            .agg(F.unix_micros(F.min("ts")).alias("session_start_us"),
                 F.unix_micros(F.max("ts")).alias("session_end_us"),
                 F.count(F.lit(1)).alias("n_events")))


ORACLE_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, ts, event_id,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER
      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
    THEN 1 ELSE 0 END AS new_session
  -- NULL contract: sessionization needs a user key, a time, and the
  -- event-id tie-break; NULL rows are excluded (Spark def matches)
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL),
sess AS (
  SELECT user_id, ts,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM marked)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) AS session_end_us, count(*) AS n_events
FROM sess GROUP BY user_id, session_idx
"""


def q_ann_lsh_topk(spark, sf):
    """Approximate top-k: sign-bit LSH buckets + multi-probe + exact
    cosine re-rank (the scale path; `topk_cosine` is its exact
    baseline)."""
    emb = _emb(spark, sf)
    queries = (_emb1(spark, sf).orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    out = similarity.topk_lsh(emb, queries, k=5, bucket_bits=6,
                              probe_hamming=1)
    return out.select("query_id", "vec_id",
                      F.round(F.col("cosine"), 6).alias("cosine"), "rank")


ORACLE_ANN_LSH_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_vec FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
  ORDER BY vec_id LIMIT 5),
cb AS (SELECT vec_id, embedding, {_SIGNBITS_SQL.format(v='embedding')} AS b
       FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) embeddings),
qb AS (SELECT query_id, query_vec, {_SIGNBITS_SQL.format(v='query_vec')} AS b
       FROM q),
cand AS (
  SELECT qb.query_id, cb.vec_id,
    {_COS_SQL.format(a='cb.embedding', b='qb.query_vec')} AS cos
  FROM cb JOIN qb ON bit_count(xor(cb.b, qb.b)) <= 1),
ranked AS (
  SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
  FROM cand)
SELECT query_id, vec_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= 5
"""


def q_windowed_counts(spark, sf):
    """Tumbling event-time window aggregation — the batch twin of
    ``streaming.windowed_event_counts`` (same code path; Spark's unified
    batch/stream semantics)."""
    from zacks_estimates_financial_statements_spark.streaming.raw_zone_stream import windowed_event_counts
    ev = _t(spark, sf, "events")
    out = windowed_event_counts(ev, window="1 hour", watermark="2 hours")
    # window bounds as epoch-µs BIGINT, decimal sum as trimmed text
    return out.select(
        F.unix_micros(F.col("window_start")).alias("window_start_us"),
        F.unix_micros(F.col("window_end")).alias("window_end_us"),
        "event_type", "n",
        decimal_text(F.col("sum_value")).alias("sum_value"))


ORACLE_WINDOWED_COUNTS = f"""
SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_us,
       epoch_us(time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR) AS window_end_us,
       event_type,
       count(*) AS n,
       {_dt_sql(f"CAST(sum({_decg('value')}) AS DECIMAL(38,6))")} AS sum_value
-- NULL contract: Spark's window() drops NULL event times (no window
-- can contain them); the twin states the same filter
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2, 3
"""


def q_json_extract(spark, sf):
    """Semi-structured extraction (the analytics-side twin of the T8
    calendar JSON cleanup): pull a typed field out of the events JSON
    props column and aggregate it — pure JVM expressions, pushable scan.

    Malformed-payload contract (r10 conflict fuzz): extraction is
    defined over the payload subset BOTH engines parse identically —
    flat JSON objects (one brace pair, no single quotes, no trailing
    comma; one shared regex guard). Every Spark JSON function
    (get_json_object, from_json, even try_parse_json) is
    Jackson-prefix-LENIENT — ``{"k":5}~c`` extracts 5 — while strict
    validators (DuckDB json_valid, python json) reject it; Spark has
    no strict validator, so the guard pins the common subset instead.
    Inside the guard the residual asymmetries degrade to NULL on both
    sides (Spark rejects ``05``/``+5``; DuckDB accepts ``NaN`` whose
    bigint try_cast nulls). Out of contract: exponent-rendered values
    (``1e2`` — Spark re-renders ``100.0`` whose bigint cast nulls,
    DuckDB casts 100); this pipeline's serializers render integers."""
    ev = _t(spark, sf, "events")
    flat = (F.col("props").rlike(r"^\{[^{}']*\}$")
            & ~F.col("props").rlike(r",[ \t\n\x0b\f\r]*\}$"))
    k = F.when(flat, F.get_json_object(F.col("props"), "$.k")) \
        .try_cast("bigint")
    return (ev.withColumn("k", k)
            .filter(F.col("k").isNotNull())
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


ORACLE_JSON_EXTRACT = """
SELECT event_type, count(*) AS n,
  CAST(sum(k) AS BIGINT) AS sum_k,
  min(k) AS min_k, max(k) AS max_k
FROM (
  -- flat-object guard (shared with the Spark side): Spark's JSON
  -- parse is Jackson-prefix-lenient, json_valid is strict — the
  -- contract pins extraction to the subset both parse identically;
  -- json_valid stays for the residual cases inside the guard that
  -- Jackson rejects and DuckDB would throw on
  SELECT event_type,
    TRY_CAST(CASE WHEN regexp_matches(props, '^\\{[^{}'']*\\}$')
                   AND NOT regexp_matches(props, ',[ \t\n\x0b\f\r]*\\}$')
                   AND json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
  FROM events)
WHERE k IS NOT NULL
GROUP BY event_type
"""


def q_approx_distinct(spark, sf):
    """HLL cardinality sketches (approx_count_distinct) per event_type.
    Sketch estimates differ across engines by construction, so the
    cross-engine contract is: the exact count (comparable) plus each
    engine's own within-2%-of-exact flag — proving the sketch works
    without demanding bit-identical estimates."""
    ev = _t(spark, sf, "events")
    agg = (ev.groupBy("event_type")
           .agg(F.countDistinct("user_id").alias("exact_users"),
                F.approx_count_distinct("user_id", 0.02).alias("a")))
    ok = (F.abs(F.col("a") - F.col("exact_users"))
          <= F.col("exact_users") * 0.05)
    return agg.select("event_type", "exact_users",
                      ok.alias("approx_within_5pct"))


ORACLE_APPROX_DISTINCT = """
SELECT event_type,
  count(DISTINCT user_id) AS exact_users,
  abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
    <= count(DISTINCT user_id) * 0.05 AS approx_within_5pct
FROM events GROUP BY event_type
"""


def q_approx_quantiles(spark, sf):
    """Approximate quantiles (Greenwald-Khanna percentile_approx) per
    event_type, same engine-local-tolerance contract as the HLL query:
    exact interpolated median (comparable cross-engine, rounded) + each
    engine's own sketch-error flag.

    Small-group contract (r10 conflict fuzz): the sketch-error flag is
    only DEFINED for groups with >= 100 finite values — GK returns a
    data point while the exact median interpolates, so on a ~20-row
    group the gap between the two middle values alone can exceed 1% of
    range and the two engines' sketches land on opposite sides of the
    line; sketch guarantees are asymptotic, tiny groups report NULL."""
    ev = _t(spark, sf, "events")
    # non-finite contract: NaN/±Inf degrade to NULL before the sketch —
    # engines disagree on NaN quantile mechanics (twin mirrors)
    v = _finite(F.col("value"))
    agg = (ev.groupBy("event_type")
           .agg(F.percentile(v, F.lit(0.5)).alias("m"),
                F.percentile_approx(v, 0.5, 10000).alias("am"),
                F.max(v).alias("mx"), F.min(v).alias("mn"),
                F.count(v).alias("nv")))
    ok = F.when(F.col("nv") >= 100,
                F.abs(F.col("am") - F.col("m"))
                <= (F.col("mx") - F.col("mn")) * 0.01)
    return agg.select("event_type",
                      F.round(F.col("m").cast("double"), 6).alias("median"),
                      ok.alias("approx_within_1pct_range"))


ORACLE_APPROX_QUANTILES = f"""
WITH e AS (
  -- non-finite contract: NaN/±Inf measure -> NULL (Spark def mirrors)
  SELECT event_type, {_fin_sql('value')} AS value FROM events)
SELECT event_type,
  round(quantile_cont(value, 0.5), 6) AS median,
  -- small-group contract: the sketch-error flag is NULL under 100
  -- finite values (Spark def mirrors; see q_approx_quantiles)
  CASE WHEN count(value) >= 100 THEN
    abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
      <= (max(value) - min(value)) * 0.01 END AS approx_within_1pct_range
FROM e GROUP BY event_type
"""


def q_stream_dedup(spark, sf):
    """Batch twin of ``streaming.dedup_events`` (watermarked
    first-occurrence dedup): replaying the events feed twice must yield
    each event once — the streaming analog of the W1 idempotent upsert."""
    from zacks_estimates_financial_statements_spark.streaming.raw_zone_stream import dedup_events
    ev = _t(spark, sf, "events")
    replayed = ev.unionByName(ev)
    out = dedup_events(replayed, keys=["event_id"])
    return out.select("event_id").distinct()


ORACLE_STREAM_DEDUP = """
SELECT DISTINCT event_id FROM events
"""


def q_ann_ivf_topk(spark, sf):
    """IVF coarse-quantization top-k: deterministic seed centroids,
    nprobe nearest lists, exact re-rank (the other scale path next to
    the LSH variant)."""
    emb = _emb(spark, sf)
    queries = (_emb1(spark, sf).orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    out = similarity.topk_ivf(emb, queries, k=3, n_centroids=16, nprobe=4)
    return out.select("query_id", "vec_id",
                      F.round(F.col("cosine"), 6).alias("cosine"), "rank")


ORACLE_ANN_IVF_TOPK = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
  ORDER BY vec_id LIMIT 16),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC, c.centroid_id)
      AS rn
    FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e CROSS JOIN cent c)
  WHERE rn = 1),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
  ORDER BY vec_id LIMIT 5),
probes AS (
  SELECT query_id, qvec, centroid_id FROM (
    SELECT q.query_id, q.qvec, c.centroid_id,
      row_number() OVER (PARTITION BY q.query_id ORDER BY
        {_COS_SQL.format(a='q.qvec', b='c.cvec')} DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cent c)
  WHERE rn <= 4),
cand AS (
  SELECT p.query_id, e.vec_id,
    {_COS_SQL.format(a='e.embedding', b='p.qvec')} AS cos
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e
  JOIN assign a ON e.vec_id = a.vec_id
  JOIN probes p ON p.centroid_id = a.centroid_id),
ranked AS (
  SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id)
    AS rank
  FROM cand)
SELECT query_id, vec_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Text analysis (training-data extension)
# ---------------------------------------------------------------------------


def q_text_stats(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        T.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        T.regex_token_count(F.col("text")).alias("rx_tokens"),
        F.round(T.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(T.mean_word_length(F.col("text")), 6).alias("mean_word_len"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality"))


# parametrized so per-row consumers (corpus_report) can carry extra
# columns through WITHOUT a join-back by doc_id — id collisions
# (extreme-dial LONG_MAX ids, conflict clones) would amplify any
# such join while the Spark side is one inline per-row agg (r12)
_TEXT_STATS_TEMPLATE = r"""
WITH s AS (
  SELECT __EXTRA__ doc_id, text,
    CASE WHEN trim(text) = '' THEN 0
      ELSE len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) END AS ws_tokens,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS rx_tokens,
    CASE WHEN len(text) = 0 THEN 0.0
      ELSE len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]'))::DOUBLE
           / len(text) END AS pr,
    CASE WHEN trim(text) = '' OR len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) = 0
      THEN 0.0
      ELSE len(regexp_replace(trim(text), '[ \t\n\x0b\f\r]+', '', 'g'))::DOUBLE
           / len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) END AS mwl,
    (SELECT sum(len(regexp_extract_all(lower(text), '\b' || w || '\b')))
     FROM (SELECT unnest(['the','a','an','and','or','of','to','in','is','are',
                          'was','for','on','with','as','by','at','it','this',
                          'that']) AS w)) AS stop_hits
  FROM documents)
SELECT __EXTRA__ doc_id, ws_tokens, rx_tokens,
  round(pr, 6) AS punct_ratio,
  round(mwl, 6) AS mean_word_len,
  round(CASE WHEN ws_tokens = 0 THEN 0.0 ELSE
    (least(1.0, ws_tokens / 100.0)
     + least(1.0, (stop_hits::DOUBLE / ws_tokens) * 4.0)
     + (1.0 - least(1.0, pr * 5.0))) / 3.0 END, 6) AS quality
FROM s
"""


def _text_stats_sql(extra: str = "") -> str:
    return _TEXT_STATS_TEMPLATE.replace("__EXTRA__", extra)


ORACLE_TEXT_STATS = _text_stats_sql()


def q_heavy_hitters(spark, sf):
    """Count-min heavy hitters over event users (d=4, w=256): the
    deterministic md5 hash family makes the sketch — and therefore the
    exact estimates — reproducible in SQL, so this oracle checks the
    sketch VALUES, not just plausibility. Emits every user whose
    estimate clears the threshold alongside its estimate."""
    ev = _t(spark, sf, "events")
    return sketches.cm_heavy_hitters(ev, "user_id", threshold=50,
                                     depth=4, width=256)


# the same md5-family bucket in SQL: hash60("cm<r>|" || key) % width
def _cm_bucket_sql(r: int, key: str, width: int) -> str:
    return (f"(('0x' || substr(md5('cm{r}|' || {key}::VARCHAR), 1, 15))"
            f"::BIGINT % {width})")


ORACLE_HEAVY_HITTERS = f"""
WITH cells AS (
  {' UNION ALL '.join(
      f"SELECT {r} AS row, {_cm_bucket_sql(r, 'user_id', 256)} AS bucket "
      f"FROM events" for r in range(4))}),
sketch AS (
  SELECT row, bucket, count(*) AS cnt FROM cells GROUP BY row, bucket),
probes AS (
  {' UNION ALL '.join(
      f"SELECT user_id, {r} AS row, "
      f"{_cm_bucket_sql(r, 'user_id', 256)} AS bucket "
      f"FROM (SELECT DISTINCT user_id FROM events)" for r in range(4))})
SELECT p.user_id, min(s.cnt)::BIGINT AS est_count
FROM probes p JOIN sketch s ON p.row = s.row AND p.bucket = s.bucket
GROUP BY p.user_id
HAVING min(s.cnt) >= 50
"""


def q_lm_perplexity(spark, sf):
    """Self-scored bigram-LM perplexity per document (add-alpha
    smoothing, alpha=0.5) — flags repetition (low ppl) and garbage
    (high ppl). Decimal-routed nll sums keep the mean exact."""
    docs = _t(spark, sf, "documents")
    return curation.bigram_lm_perplexity(docs, "doc_id", "text")


ORACLE_LM_PERPLEXITY = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
el AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM el, unnest(range(1, len(t))) AS u(i)),
model AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
prefix AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
vocab AS (
  SELECT count(DISTINCT tok)::DOUBLE AS v
  FROM (SELECT unnest(t) AS tok FROM el)),
scored AS (
  SELECT b.doc_id,
    round(-ln((m.c12 + 0.5) / (p.c1 + 0.5 * vocab.v)),
          6)::DECIMAL(38,6) AS nll
  FROM bi b
  JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
  JOIN prefix p ON b.w1 = p.w1
  CROSS JOIN vocab)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
  round(exp(sum(nll)::DOUBLE / count(*)), 6) AS ppl
FROM scored GROUP BY doc_id
"""


def q_kn_perplexity(spark, sf):
    """Interpolated Kneser-Ney bigram-LM perplexity
    (operators/curation.py ``kn_perplexity``): absolute discounting
    (d=0.75) + continuation-unigram backoff — the KenLM-tier upgrade
    of lm_perplexity's add-alpha smoothing. Same skew-safe plan; the
    three KN count models derive from the distinct-bigram relation."""
    docs = _t(spark, sf, "documents")
    return curation.kn_perplexity(docs, "doc_id", "text")


# Replays the KN chain on the lm twin's bigram relation: bigram-type
# models for N1+(w1 .), N1+(. w2) and the type total, absolute
# discount + interpolation with the EXACT double association the
# operator documents, identical rounding recipe.
ORACLE_KN_PERPLEXITY = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
el AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
bi AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM el, unnest(range(1, len(t))) AS u(i)),
model AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
prefix AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
r1 AS (SELECT w1, count(*) AS n1r FROM model GROUP BY 1),
r2 AS (SELECT w2, count(*) AS n1l FROM model GROUP BY 1),
nb AS (SELECT count(*)::DOUBLE AS nb FROM model),
scored AS (
  SELECT b.doc_id,
    round(-ln(greatest(m.c12 - 0.75::DOUBLE, 0.0::DOUBLE) / p.c1
              + 0.75::DOUBLE * r1.n1r / p.c1 * (r2.n1l / nb.nb)),
          6)::DECIMAL(38,6) AS nll
  FROM bi b
  JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
  JOIN prefix p ON b.w1 = p.w1
  JOIN r1 ON b.w1 = r1.w1
  JOIN r2 ON b.w2 = r2.w2
  CROSS JOIN nb)
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
  round(exp(sum(nll)::DOUBLE / count(*)), 6) AS ppl
FROM scored GROUP BY doc_id
"""


def q_corpus_report(spark, sf):
    """Per-source corpus health report: volumes, decimal-exact mean
    quality, short-doc share. One map-side-combined aggregation."""
    docs = _t(spark, sf, "documents")
    # NULL contract: the report covers addressable documents (the twin
    # keys per-doc stats by doc_id); NULL-id rows are excluded
    return curation.corpus_report(docs.filter(F.col("doc_id").isNotNull()),
                                  "source", "text")


# duplicate-id contract (corpus_report): volume accounting is over
# PHYSICAL rows (a duplicated row is real extra volume — the Spark side
# is one inline agg, no join). r12: per-row stats ride THROUGH the
# stats CTE via the __EXTRA__ columns instead of a join-back by doc_id
# — colliding ids (extreme-dial LONG_MAX keys, conflict clones with
# distinct texts) amplified that join while Spark's inline agg did not.
ORACLE_CORPUS_REPORT = f"""
WITH j AS ({_text_stats_sql("source, text,")})
SELECT source, count(*)::BIGINT AS n_docs,
  sum(len(text))::BIGINT AS total_chars,
  sum(ws_tokens)::BIGINT AS total_ws_tokens,
  round(sum({_decg('quality')})::DOUBLE / count(*), 6) AS avg_quality,
  round(sum(CASE WHEN ws_tokens < 30 THEN 1 ELSE 0 END)::DOUBLE
        / count(*), 6) AS pct_short
FROM j WHERE doc_id IS NOT NULL GROUP BY source
"""


def q_language_id(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id",
                       T.detect_language(F.col("text")).alias("lang_pred"))


def _lang_score_sql(words: list[str]) -> str:
    parts = " + ".join(
        rf"len(regexp_extract_all(lower(text), '\b{w}\b'))" for w in words)
    return f"({parts})"


def _lang_oracle_sql(extra: str = "") -> str:
    """DuckDB twin of ``T.detect_language`` GENERATED from the same
    marker table and the same first-wins-over-sorted-codes tie-break, so
    the two can never drift when languages are added. ``extra`` columns
    ride through per physical row (r12: composite twins join versions
    by the FULL row, never doc_id alone — colliding extreme-dial ids
    cross-match otherwise)."""
    langs = sorted(T.LANG_MARKERS)
    score_cols = ",\n    ".join(
        f"{_lang_score_sql(T.LANG_MARKERS[lang])} AS s_{lang}"
        for lang in langs)
    branches = []
    for lang in langs:
        conds = [f"s_{lang} > 0"]
        for other in langs:
            if other == lang:
                continue
            op = ">=" if other > lang else ">"
            conds.append(f"s_{lang} {op} s_{other}")
        branches.append(
            "    WHEN " + " AND ".join(conds) + f" THEN '{lang}'")
    return (f"""
WITH scores AS (
  SELECT {extra} doc_id,
    {score_cols}
  FROM documents)
SELECT {extra} doc_id,
  CASE
{chr(10).join(branches)}
    ELSE 'und' END AS lang_pred
FROM scores
""")


ORACLE_LANGUAGE_ID = _lang_oracle_sql()


def q_clean_corpus(spark, sf):
    """Composite training-data pipeline: language gate + quality gate +
    exact dedup (min-id winner) in one dataflow — the shape of a real
    corpus-cleaning job."""
    docs = _t(spark, sf, "documents")
    # NULL-id rows are unaddressable (the keep-first dedup has no key
    # for them) — excluded, matching the oracle's equi-joins on doc_id
    docs = docs.filter(F.col("doc_id").isNotNull())
    scored = docs.select(
        "doc_id",
        T.detect_language(F.col("text")).alias("lang_pred"),
        T.whitespace_token_count(F.col("text")).alias("toks"),
        T.quality_score(F.col("text")).alias("q"),
        T.fingerprint(F.col("text")).alias("fp"))
    gated = scored.filter((F.col("lang_pred") == "en")
                          & (F.col("toks") >= 20) & (F.col("q") >= 0.5))
    # min-id winner per fingerprint via window keep-first: one pass over
    # the (expensive) scored projection instead of an agg + semi-join that
    # would recompute it twice
    from pyspark.sql import Window
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (gated.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("doc_id", "toks", F.round(F.col("q"), 6).alias("quality")))


ORACLE_CLEAN_CORPUS = f"""
WITH lang AS ({_lang_oracle_sql('text,')}),
stats AS (
  -- fp computed from the SAME physical row as the stats (r12: joining
  -- a separate fp relation by doc_id alone cross-matched colliding
  -- extreme-dial ids' versions; conflict contract: join by the FULL
  -- version)
  SELECT doc_id, text, ws_tokens AS toks, quality AS q,
    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM (
    {{text_stats}}
  )),
gated AS (
  -- duplicate-id contract (clean_corpus): the keep-first window emits
  -- ONE row per surviving fingerprint — physical copies of one doc are
  -- the same logical doc (identical content ⇒ identical score row), so
  -- DISTINCT collapses them before the winner join
  SELECT DISTINCT s.doc_id, s.toks, s.q, s.fp
  FROM stats s JOIN lang l
    ON s.doc_id = l.doc_id AND s.text IS NOT DISTINCT FROM l.text
  WHERE l.lang_pred = 'en' AND s.toks >= 20 AND s.q >= 0.5)
SELECT g.doc_id, g.toks, round(g.q, 6) AS quality
FROM gated g
JOIN (SELECT fp, min(doc_id) AS doc_id FROM gated GROUP BY fp) k
  ON g.fp = k.fp AND g.doc_id = k.doc_id
"""
# the text-stats subquery (un-rounded quality, gated/joined before
# round) — shared by clean_corpus, quantile_gate and token_budget_fill
# so the score definition cannot drift between oracles
_QUALITY_STATS_SQL = r"""
    SELECT doc_id, source, text,
      CASE WHEN trim(text) = '' THEN 0
        ELSE len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) END AS ws_tokens,
      CASE WHEN (CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) END) = 0 THEN 0.0
        ELSE (least(1.0, (CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) END) / 100.0)
          + least(1.0, ((SELECT sum(len(regexp_extract_all(lower(text),
              '\b' || w || '\b')))
             FROM (SELECT unnest(['the','a','an','and','or','of','to','in',
                 'is','are','was','for','on','with','as','by','at','it',
                 'this','that']) AS w))::DOUBLE
            / (CASE WHEN trim(text) = '' THEN 1
               ELSE len(string_split_regex(trim(text), '[ \t\n\x0b\f\r]+')) END)) * 4.0)
          + (1.0 - least(1.0, (CASE WHEN len(text) = 0 THEN 0.0
              ELSE len(regexp_extract_all(text,
                  '[.,;:!?''"()\[\]{}-]'))::DOUBLE / len(text) END) * 5.0)))
          / 3.0 END AS quality
    FROM documents
"""
ORACLE_CLEAN_CORPUS = ORACLE_CLEAN_CORPUS.format(
    text_stats=_QUALITY_STATS_SQL)


def q_cdc_chunks(spark, sf):
    """Content-defined chunking (operators/dedup.py ``cdc_chunks``,
    Rabin/FastCDC idea at word granularity): boundaries where the
    trailing 3-gram hash ≡ 0 mod 8 — edit-stable chunk alignment for
    chunk-level dedup; one zero-shuffle projection + posexplode."""
    docs = _t(spark, sf, "documents")
    return dedup.cdc_chunks(docs, "doc_id", "text", w=3, avg_words=8)


ORACLE_CDC_CHUNKS = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
-- duplicate-id contract (cdc_chunks, r10): output keyed
-- (id, chunk_idx); verbatim physical copies collapse (DISTINCT =
-- the Spark side's bounds-distinct + collect_set membership dedup),
-- and CONFLICTING copies resolve to the min-md5(token-string)
-- version per id — a keyed chunk relation cannot represent two
-- versions' boundary sets
vers AS (SELECT doc_id, t, md5(array_to_string(t, ' ')) AS fp
         FROM toks WHERE len(t) >= 1),
win AS (SELECT doc_id, min(fp) AS fp FROM vers GROUP BY doc_id),
pos AS (SELECT DISTINCT doc_id, t, len(t) AS n
        FROM vers JOIN win USING (doc_id, fp)),
cuts AS (
  SELECT doc_id, r.e FROM pos, unnest(range(3, n + 1)) AS r(e)
  WHERE ('0x' || substr(md5(array_to_string(t[r.e - 2:r.e], ' ')),
                        1, 15))::BIGINT % 8 = 0),
bounds AS (
  SELECT DISTINCT doc_id, e FROM (
    SELECT doc_id, e FROM cuts
    UNION ALL SELECT doc_id, n AS e FROM pos)),
spans AS (
  SELECT doc_id,
    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s,
    e, row_number() OVER (PARTITION BY doc_id ORDER BY e) AS chunk_idx
  FROM bounds)
SELECT sp.doc_id, sp.chunk_idx::BIGINT AS chunk_idx,
  sp.s::BIGINT AS start_word, (sp.e - sp.s + 1)::BIGINT AS n_words,
  md5(array_to_string(p.t[sp.s:sp.e], ' ')) AS chunk_hash,
  array_to_string(p.t[sp.s:sp.e], ' ') AS chunk_text
FROM spans sp JOIN pos p USING (doc_id)
"""


def q_winnow_fingerprint(spark, sf):
    """Winnowing rolling-hash fingerprints (k-gram hashes → sliding-window
    minima → distinct selected hashes per doc)."""
    docs = _t(spark, sf, "documents")
    # the testdata parquet is a single split; round-robin the raw text so
    # the shuffle-free winnowing projection still uses every core
    return dedup.winnow_fingerprints(
        docs, "doc_id", "text", k=5, w=4,
        parallelism=spark.sparkContext.defaultParallelism)


ORACLE_WINNOW_FINGERPRINT = """
WITH norm AS MATERIALIZED (
  -- duplicate-id contract (winnow_fingerprints): PER-PHYSICAL-ROW —
  -- each input row fingerprints independently (the Spark side is a
  -- zero-shuffle per-row projection), so duplicate rows of one id
  -- amplify the output multiset. rid tags physical rows so the window
  -- below cannot interleave two copies of one doc.
  SELECT row_number() OVER () AS rid, doc_id,
    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS n
  -- NULL contract (winnow_fingerprints): per-doc fingerprints need an
  -- id; NULL-id rows are excluded on both engines
  FROM documents WHERE doc_id IS NOT NULL),
grams AS (
  SELECT rid, doc_id, i,
    ('0x' || substr(md5(substr(n, i, 5)), 1, 15))::BIGINT AS h,
    len(n) - 4 AS ng
  FROM norm, LATERAL (
    SELECT unnest(generate_series(1, len(n) - 4)) AS i)
  WHERE len(n) >= 5),
wins AS (
  SELECT rid, doc_id, i, ng,
    min(h) OVER (PARTITION BY rid ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
  FROM grams)
SELECT doc_id, fp FROM (
  SELECT DISTINCT rid, doc_id, wm AS fp FROM wins WHERE i <= ng - 3)
"""


def q_fingerprint(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


ORACLE_FINGERPRINT = """
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
FROM documents
"""


# ---------------------------------------------------------------------------
# Contract functions
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Dataset curation (training-corpus extension surface, operators/curation.py)
# ---------------------------------------------------------------------------

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25}
_SAMPLE_DEFAULT = 0.1
# data-mixing targets: up-weight a few sources, zero out the rest
_MIXTURE_TARGETS = {f"src{i}": float((i % 4) + 1) for i in range(12)}


def q_dataset_split(spark, sf):
    """Deterministic hash-keyed train/val/test assignment — stable under
    repartitioning and engines (unlike randomSplit); zero shuffles."""
    docs = _t(spark, sf, "documents")
    return (curation.hash_split(docs, "doc_id", _SPLIT_WEIGHTS)
            .select("doc_id", "bucket", "split"))


def _oracle_dataset_split() -> str:
    """Generated from ``curation.split_thresholds`` so the SQL twin can
    never drift from the engine's rounding."""
    th = curation.split_thresholds(_SPLIT_WEIGHTS)
    branches = "\n    ".join(f"WHEN bucket < {t} THEN '{name}'"
                             for name, t in th[:-1])
    return f"""
WITH b AS (
  SELECT doc_id,
    ('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15))::BIGINT
      % 1000000 AS bucket
  FROM documents)
SELECT doc_id, bucket,
  -- NULL contract (hash_split): a NULL id has no hash, hence NO split
  -- (the bare ELSE would dump NULL buckets into the last split)
  CASE WHEN bucket IS NULL THEN NULL
       {branches} ELSE '{th[-1][0]}' END AS split
FROM b
"""


def q_stratified_sample(spark, sf):
    """Per-language deterministic sample (en 50 %, de 25 %, rest 10 %)."""
    docs = _t(spark, sf, "documents")
    return (curation.stratified_sample(
        docs, "lang", "doc_id", _SAMPLE_FRACTIONS,
        default_fraction=_SAMPLE_DEFAULT)
        .select("doc_id", "lang", "bucket"))


def _oracle_stratified_sample() -> str:
    branches = " ".join(
        f"WHEN lang = '{name}' THEN {int(round(frac * 1_000_000))}"
        for name, frac in _SAMPLE_FRACTIONS.items())
    default = int(round(_SAMPLE_DEFAULT * 1_000_000))
    return f"""
WITH b AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 15))::BIGINT
      % 1000000 AS bucket
  FROM documents)
SELECT doc_id, lang, bucket FROM b
WHERE bucket < CASE {branches} ELSE {default} END
"""


def q_token_frequencies(spark, sf):
    """Corpus vocabulary build: TF + document frequency + smoothed IDF
    per token (min_tf=2 prunes the hapax tail)."""
    docs = _t(spark, sf, "documents")
    return curation.token_frequencies(docs, "doc_id", "text", min_tf=2)


ORACLE_TOKEN_FREQUENCIES = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                       x -> x <> '')) AS token
  FROM documents),
per_doc AS (
  SELECT token, doc_id, count(*) AS c FROM toks GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT token,
  sum(c)::BIGINT AS tf,
  count(*)::BIGINT AS doc_freq,
  round(ln((n.n_docs + 1.0) / (count(*) + 1.0)) + 1.0, 6) AS idf
FROM per_doc, n
GROUP BY token, n.n_docs
HAVING sum(c) >= 2
"""


def q_repetition_stats(spark, sf):
    """Gopher-style duplicate/top n-gram fractions (n = 1, 2, 3)."""
    docs = _t(spark, sf, "documents")
    return curation.repetition_stats(docs, "doc_id", "text", ns=(1, 2, 3))


ORACLE_REPETITION_STATS = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, 1 AS n, unnest(t) AS gram FROM toks
  UNION ALL
  SELECT doc_id, 2 AS n, t[i] || ' ' || t[i+1] AS gram
  FROM toks, unnest(range(1, len(t))) AS g(i)
  UNION ALL
  SELECT doc_id, 3 AS n, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM toks, unnest(range(1, len(t)-1)) AS g(i)
),
per_gram AS (
  SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3)
SELECT doc_id, n,
  sum(c)::BIGINT AS total_ngrams,
  count(*)::BIGINT AS distinct_ngrams,
  max(c)::BIGINT AS top_count,
  round((sum(c) - count(*))::DOUBLE / sum(c), 6) AS dup_frac,
  round(max(c)::DOUBLE / sum(c), 6) AS top_frac
FROM per_gram GROUP BY doc_id, n
"""


def q_dedup_clusters(spark, sf):
    """Cluster resolution over the MinHash near-dup graph: transitive
    closure via large-star/small-star connected components, one
    canonical keeper per cluster (operators/graph.py). The step that
    turns pair lists into an actual deduplicated corpus."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.minhash_near_dup_pairs(docs, "doc_id", "text",
                                         k=12, bands=4)
    return (graph.resolve_duplicate_clusters(docs, pairs, "doc_id")
            .select("doc_id", "component", "cluster_size", "keep"))


# Oracle: same LSH candidate edges as ORACLE_MINHASH_PAIRS, then the
# transitive closure as a recursive CTE (min reachable id = component).
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE shingled AS ({_SHINGLE_SQL.format(km1=2)}),
{_MINHASH_SIGS_CTE},
{_LSH_CAND_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM cand
  UNION
  SELECT id_b AS u, id_a AS v FROM cand),
reach(node, r) AS (
  -- NULL contract: NULL-id docs are unaddressable, excluded from CC
  SELECT doc_id, doc_id FROM documents WHERE doc_id IS NOT NULL
  UNION
  SELECT e.v, reach.r FROM edges e JOIN reach ON reach.node = e.u),
comp AS (
  SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
-- duplicate-id contract (resolve_duplicate_clusters): labels ATTACH to
-- corpus rows ("every row gains ..."), so physical copies of one id
-- each carry the label row; cluster_size counts logical ids, not rows
SELECT d.doc_id, c.component, s.cluster_size,
  (d.doc_id = c.component) AS keep
FROM documents d
JOIN comp c ON d.doc_id = c.doc_id
JOIN sizes s USING (component)
"""


def q_funnel(spark, sf):
    """Ordered conversion funnel (operators/temporal.py
    ``conversion_funnel``): view → click → purchase per user, each step
    the earliest event after the previous one and within 7 days of the
    anchor. One type-pruned min-agg per step chained by per-user joins
    — the fact stream never sorts per user."""
    ev = _t(spark, sf, "events")
    out = temporal.conversion_funnel(
        ev, "user_id", "event_type", "ts",
        ["view", "click", "purchase"], horizon_seconds=604800)
    return out.select(
        "user_id",
        F.unix_micros("ts_1").alias("ts_1_us"),
        F.unix_micros("ts_2").alias("ts_2_us"),
        F.unix_micros("ts_3").alias("ts_3_us"),
        "depth")


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 604800 SECONDS
  GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s1.t1 + INTERVAL 604800 SECONDS
  GROUP BY e.user_id)
SELECT s1.user_id, epoch_us(s1.t1) AS ts_1_us,
  epoch_us(s2.t2) AS ts_2_us, epoch_us(s3.t3) AS ts_3_us,
  (CASE WHEN s3.t3 IS NOT NULL THEN 3
        WHEN s2.t2 IS NOT NULL THEN 2 ELSE 1 END)::INT AS depth
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


def q_retention(spark, sf):
    """Weekly cohort retention matrix (operators/temporal.py
    ``retention_cohorts``): users bucketed by first-activity week,
    counted distinct in every week they return. Two map-side-combined
    aggregations; the event stream shuffles once for first-seen and
    once as distinct user-weeks."""
    ev = _t(spark, sf, "events")
    out = temporal.retention_cohorts(ev, "user_id", "ts", "week")
    return out.select(F.unix_micros("cohort").alias("cohort_us"),
                      "offset", "retained", "cohort_size", "rate")


ORACLE_RETENTION = """
WITH acts AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS b
  FROM events),
first AS (SELECT u, min(b) AS cohort FROM acts GROUP BY u),
sizes AS (
  SELECT cohort, count(*) AS cohort_size FROM first GROUP BY cohort),
m AS (
  SELECT f.cohort,
    CAST(date_diff('day', f.cohort::DATE, a.b::DATE) // 7 AS BIGINT)
      AS "offset",
    count(DISTINCT a.u) AS retained
  FROM acts a JOIN first f ON a.u = f.u GROUP BY 1, 2)
SELECT epoch_us(m.cohort) AS cohort_us, m."offset",
  m.retained::BIGINT AS retained, s.cohort_size::BIGINT AS cohort_size,
  round(m.retained / s.cohort_size, 6) AS rate
FROM m JOIN sizes s ON m.cohort = s.cohort
"""


def q_chunk_overlap(spark, sf):
    """Overlapping passage windows (curation.chunk_tokens with
    stride < chunk_size): the RAG extraction layout where a fact
    straddling a window boundary appears whole in the next window.
    Same zero-shuffle projection+explode as the training layout."""
    docs = _t(spark, sf, "documents")
    return curation.chunk_tokens(docs, "doc_id", "text",
                                 chunk_size=8, stride=4)


ORACLE_CHUNK_OVERLAP = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
w AS (
  SELECT doc_id, i AS chunk_idx,
    t[i * 4 + 1 : least(i * 4 + 8, len(t))] AS chunk
  FROM toks,
    unnest(range(0, CAST(floor((len(t) - 1) / 4.0) AS BIGINT) + 1))
      AS u(i)
  WHERE len(t) >= 1)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
  len(chunk)::BIGINT AS n_tokens,
  md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM w
"""


def q_incremental_cc(spark, sf):
    """Incremental dedup-cluster maintenance (operators/graph.py
    ``incremental_components``): docs 100+ are the stored, already-
    labeled corpus; docs 0-99 arrive as a batch whose in-batch pairs +
    index-probe cross pairs run CC only on the CONTRACTED graph, then a
    relabel map touches merged components. The oracle is the full
    transitive closure over ALL documents — the driver thereby attests
    incremental == full recompute."""
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") >= 100)
    batch = docs.filter(F.col("doc_id") < 100)
    # ONE corpus sketch (r13): the stored-corpus minhash index is
    # consumed twice — the corpus-vs-itself pair sweep and the batch
    # probe — and the two consumers are SEQUENTIAL (connected
    # components materializes the pair edges in driver-synchronous
    # jobs before the final probe job runs), so the duplicated
    # shingle→hash→signature lineage was paid in full wall-clock,
    # not parallel-hidden. Persist the index across both; released
    # when the caller's ``cache_scope`` exits.
    index = persist(dedup.minhash_index(corpus, "doc_id", "text", k=12,
                                        bands=4))
    cpairs = dedup.minhash_pairs_from_index(index, "doc_id", k=12)
    cc = graph.connected_components(cpairs)
    # duplicate-id contract: a CC label index is KEYED — one row per
    # node id (distinct rides the join's own node-key exchange)
    labels = (corpus.select(F.col("doc_id").alias("node")).distinct()
              .join(cc, "node", "left")
              .select("node", F.coalesce("component", "node")
                      .alias("component")))
    bpairs = dedup.minhash_near_dup_pairs(batch, "doc_id", "text",
                                          k=12, bands=4) \
        .select("id_a", "id_b")
    cross = dedup.incremental_minhash_pairs(index, batch, "doc_id",
                                            "text", k=12, bands=4) \
        .select(F.col("batch_id").alias("id_a"),
                F.col("corpus_id").alias("id_b"))
    batch_labels, relabel = graph.incremental_components(
        labels, bpairs.union(cross))
    merged = graph.apply_relabel(labels, relabel)
    batch_all = (batch.select(F.col("doc_id").alias("node")).distinct()
                 .join(batch_labels, "node", "left")
                 .select("node", F.coalesce("component", "node")
                         .alias("component")))
    return (merged.union(batch_all)
            .select(F.col("node").alias("doc_id"), "component"))


ORACLE_INCREMENTAL_CC = f"""
WITH RECURSIVE shingled AS ({{shingle}}),
{{sigs}},
{{cands}},
edges AS (
  SELECT id_a AS u, id_b AS v FROM cand
  UNION
  SELECT id_b AS u, id_a AS v FROM cand),
reach(node, r) AS (
  -- NULL contract: NULL-id docs are unaddressable, excluded from CC
  SELECT doc_id, doc_id FROM documents WHERE doc_id IS NOT NULL
  UNION
  SELECT e.v, reach.r FROM edges e JOIN reach ON reach.node = e.u)
SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node
"""


def q_decontaminate(spark, sf):
    """GPT-3-style benchmark decontamination: a 10 % hash-held-out
    "benchmark" slice, and per remaining corpus doc the count of
    distinct token 4-grams that collide with it (n=4 keeps the check
    non-vacuous on the small-vocabulary testdata; real corpora use
    n=13)."""
    docs = _t(spark, sf, "documents")
    split = curation.hash_split(docs, "doc_id", {"bench": 1, "corpus": 9},
                                seed="decontam")
    bench = split.filter("split = 'bench'")
    corpus = split.filter("split = 'corpus'")
    return curation.benchmark_contamination(corpus, bench, "doc_id",
                                            "text", n=4)


ORACLE_DECONTAMINATE = """
WITH b AS MATERIALIZED (
  SELECT doc_id, text, row_number() OVER () AS rid,
    ('0x' || substr(md5('decontam|' || doc_id::VARCHAR), 1, 15))::BIGINT
      % 1000000 AS bucket
  FROM documents),
toks AS (
  SELECT doc_id, rid, bucket,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM b),
grams AS (
  SELECT DISTINCT rid, bucket, array_to_string(t[i:i+3], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 4),
bench AS (SELECT DISTINCT gram FROM grams WHERE bucket < 100000),
corp AS (SELECT rid, gram FROM grams WHERE bucket >= 100000),
-- duplicate-id contract (benchmark_contamination, r10): one output
-- row per PHYSICAL corpus row, EVERY statistic from that row's own
-- grams (rid tags physical rows) — conflicting-content copies of one
-- id are scored each on their own text; verbatim copies carry
-- identical panels
totals AS (
  SELECT rid, count(*)::BIGINT AS total_grams
  FROM corp GROUP BY rid),
hits AS (
  SELECT c.rid, count(*)::BIGINT AS overlap_grams
  FROM corp c JOIN bench USING (gram) GROUP BY c.rid)
SELECT b.doc_id, coalesce(t.total_grams, 0)::BIGINT AS total_grams,
  coalesce(h.overlap_grams, 0)::BIGINT AS overlap_grams,
  coalesce(h.overlap_grams, 0) > 0 AS contaminated
FROM b
LEFT JOIN totals t ON b.rid = t.rid
LEFT JOIN hits h ON b.rid = h.rid
WHERE b.bucket >= 100000
"""


def q_decontaminate_spans(spark, sf):
    """Span-level benchmark REMOVAL (operators/curation.py
    ``decontaminate_spans``): the decontaminate split's bench slice
    cut OUT of every corpus doc at 4-gram granularity — merged
    islands, surgical removal, annotate-everything output."""
    docs = _t(spark, sf, "documents")
    split = curation.hash_split(docs, "doc_id", {"bench": 1, "corpus": 9},
                                seed="decontam")
    bench = split.filter("split = 'bench'")
    corpus = split.filter("split = 'corpus'")
    return curation.decontaminate_spans(corpus, bench, "doc_id",
                                        "text", n=4)


ORACLE_DECONTAMINATE_SPANS = """
WITH b AS (
  SELECT doc_id, text,
    ('0x' || substr(md5('decontam|' || doc_id::VARCHAR), 1, 15))::BIGINT
      % 1000000 AS bucket
  FROM documents),
toks AS (
  SELECT doc_id, bucket,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM b),
grams AS (
  SELECT doc_id, bucket, g.i AS s, g.i + 3 AS e,
    array_to_string(t[g.i:g.i + 3], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 4),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE bucket < 100000),
hit AS (
  SELECT c.doc_id, c.s, c.e FROM grams c JOIN bench USING (gram)
  WHERE c.bucket >= 100000),
brk AS (
  SELECT doc_id, s, e,
    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
    THEN 1 ELSE 0 END AS b
  FROM hit),
isl AS (
  SELECT doc_id, s, e,
    sum(b) OVER (PARTITION BY doc_id ORDER BY s
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM brk),
iv AS (
  SELECT doc_id, min(s) AS s, max(e) AS e FROM isl
  GROUP BY doc_id, island),
pos AS (
  SELECT doc_id, u.i AS p, t[u.i] AS w
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
  WHERE bucket >= 100000),
kept AS (
  SELECT p.doc_id, p.p, p.w FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM iv WHERE iv.doc_id = p.doc_id
                    AND p.p BETWEEN iv.s AND iv.e)),
agg AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY p, w) AS clean_text,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
  (coalesce(len(t.t), 0) - coalesce(a.n_kept, 0))::BIGINT AS n_removed
FROM toks t LEFT JOIN agg a USING (doc_id)
WHERE t.bucket >= 100000
"""


def q_pii_scan(spark, sf):
    """PII detection + redaction. The synthetic corpus has no PII, so
    deterministic fakes are planted first (identically in the oracle):
    the operator then has to find exactly those and scrub them."""
    docs = _t(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com soon")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" from host 10.0."),
                            (F.col("doc_id") % 250).cast("string"),
                            F.lit("."),
                            (F.col("doc_id") % 100).cast("string")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit(" ssn 123-45-"),
                            F.lpad((F.col("doc_id") % 10000)
                                   .cast("string"), 4, "0")))
            .otherwise(F.lit(""))).alias("text"))
    out = curation.pii_scan(planted, "doc_id", "text")
    return out.select("doc_id", "email_count", "ipv4_count", "ssn_count",
                      F.md5("redacted").alias("redacted_md5"))


# the same deterministic planting, then RE2 counts/replaces — patterns
# are generated from curation.PII_PATTERNS so both engines compile the
# identical regex source.
def _oracle_pii_scan() -> str:
    p = curation.PII_PATTERNS
    return f"""
WITH planted AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0
            THEN ' contact user' || doc_id::VARCHAR || '@example.com soon'
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' from host 10.0.' || (doc_id % 250)::VARCHAR || '.'
                 || (doc_id % 100)::VARCHAR
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' ssn 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
            ELSE '' END AS text
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(text, '{p["email"]}'))::BIGINT AS email_count,
  len(regexp_extract_all(text, '{p["ipv4"]}'))::BIGINT AS ipv4_count,
  len(regexp_extract_all(text, '{p["ssn"]}'))::BIGINT AS ssn_count,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '{p["email"]}', '[EMAIL]', 'g'),
      '{p["ipv4"]}', '[IPV4]', 'g'),
      '{p["ssn"]}', '[SSN]', 'g')) AS redacted_md5
FROM planted
"""


def q_chunk_tokens(spark, sf):
    """Fixed-size training-context chunking: 32-token windows per doc
    (ragged tail kept), content-addressed by md5."""
    docs = _t(spark, sf, "documents")
    return curation.chunk_tokens(docs, "doc_id", "text", chunk_size=32)


ORACLE_CHUNK_TOKENS = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
c AS (
  SELECT doc_id, i AS chunk_idx,
    t[i * 32 + 1 : least((i + 1) * 32, len(t))] AS chunk
  FROM toks, unnest(range(0, CAST(ceil(len(t) / 32.0) AS BIGINT))) AS g(i)
  WHERE len(t) >= 1)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
  len(chunk)::BIGINT AS n_tokens,
  md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM c
"""


def q_topic_summaries(spark, sf):
    """BERTopic-style corpus topic map (operators/topics.py): IVF
    clusters over the embedding table (deterministic seed centroids),
    each labeled with its top-5 class-TF-IDF terms from the documents
    that share the vector's id. The oracle re-derives assignment,
    per-cluster term counts, cluster frequencies and the rank in SQL."""
    from zacks_estimates_financial_statements_spark.operators import topics

    docs = _t(spark, sf, "documents")
    emb = _emb(spark, sf)
    return topics.topic_summaries(docs, emb, n_clusters=16, top_terms=5)


ORACLE_TOPIC_SUMMARIES = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
  ORDER BY vec_id LIMIT 16),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, c.centroid_id,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC, c.centroid_id)
      AS rn
    FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e CROSS JOIN cent c)
  WHERE rn = 1),
clustered AS (
  SELECT d.doc_id, d.text, a.centroid_id
  FROM documents d JOIN assign a ON d.doc_id = a.vec_id),
nd AS (SELECT centroid_id, count(*) AS n_docs FROM clustered GROUP BY 1),
toks AS (
  SELECT centroid_id,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                       x -> x <> '')) AS term
  FROM clustered),
tf AS (
  SELECT centroid_id, term, count(*) AS tf
  FROM toks GROUP BY centroid_id, term),
cf AS (SELECT term, count(*) AS cf FROM tf GROUP BY term),
ctot AS (SELECT count(DISTINCT centroid_id)::DOUBLE AS c FROM tf),
scored AS (
  SELECT t.centroid_id, t.term,
    round(t.tf * ln((ctot.c + 1.0) / cf.cf), 6) AS score
  FROM tf t JOIN cf ON t.term = cf.term CROSS JOIN ctot),
ranked AS (
  SELECT centroid_id, term, score,
    row_number() OVER (PARTITION BY centroid_id
                       ORDER BY score DESC, term) AS rank
  FROM scored)
SELECT r.centroid_id, nd.n_docs, r.rank, r.term, r.score
FROM ranked r JOIN nd ON r.centroid_id = nd.centroid_id
WHERE r.rank <= 5
"""


def q_bm25_search(spark, sf):
    """Okapi BM25 keyword retrieval (operators/retrieval.py). The query
    derives deterministically from the corpus itself (its 3 most
    frequent words — count desc, word asc; literal terms would break
    when the driver regenerates testdata content), collected driver-side
    as a bounded 3-row scalar. Scores follow the per-term
    round-6 → decimal-sum recipe, so the DuckDB twin matches on the
    full scored relation, not a top-k."""
    from zacks_estimates_financial_statements_spark.operators import retrieval
    from zacks_estimates_financial_statements_spark.operators.curation import _word_array

    docs = _t(spark, sf, "documents")
    # NULL contract: the corpus is the ADDRESSABLE docs — the query-term
    # derivation must use the same frame as the index (r10 high-rate
    # fuzz: NULL-id rows' tokens flipped the rank-3 term at 5% nulls)
    corpus = docs.filter(F.col("doc_id").isNotNull())
    top = (corpus.select(F.explode(_word_array("text")).alias("w"))
           .groupBy("w").agg(F.count("*").alias("n"))
           .orderBy(F.desc("n"), F.asc("w")).limit(3).collect())
    out = retrieval.bm25_score(docs, "doc_id", "text",
                               [r["w"] for r in top])
    return out.select("doc_id", "n_matched_terms",
                      F.round("score", 6).alias("score"))


ORACLE_BM25_SEARCH = """
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                       x -> x <> '')) AS tok
  -- NULL contract (bm25_score): the corpus is the addressable docs
  FROM documents WHERE doc_id IS NOT NULL),
q AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
    ORDER BY n DESC, tok LIMIT 3)),
dl AS (
  -- duplicate-id contract (bm25_score): postings key on the id — rows
  -- of one id MERGE (their token streams concatenate), so the length
  -- relation is one row per id; ids are expected unique upstream
  -- (exact_dup_groups), the index is merely deterministic when they are not
  SELECT d.doc_id, coalesce(c.cnt, 0) AS dl
  FROM (SELECT DISTINCT doc_id FROM documents
        WHERE doc_id IS NOT NULL) d LEFT JOIN (
    SELECT doc_id, count(*) AS cnt FROM toks GROUP BY doc_id) c
    ON d.doc_id = c.doc_id),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT t.doc_id, t.tok, count(*) AS tf
  FROM toks t JOIN q ON t.tok = q.tok
  GROUP BY t.doc_id, t.tok),
dft AS (
  SELECT tok, ln(1.0 + (s.n - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM tf, stats s GROUP BY tok, s.n),
per_term AS (
  SELECT tf.doc_id,
    round(d.idf * tf.tf * (1.2 + 1.0)
          / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)),
          6)::DECIMAL(38,6) AS contrib
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN dft d ON tf.tok = d.tok
  CROSS JOIN stats s)
SELECT doc_id, count(*)::BIGINT AS n_matched_terms,
  round(sum(contrib)::DOUBLE, 6) AS score
FROM per_term GROUP BY doc_id
"""


def q_hybrid_search(spark, sf):
    """Hybrid lexical+semantic retrieval with RRF fusion
    (operators/retrieval.py): BM25 top-50 and cosine top-50 candidate
    lists (distributed TakeOrdered each — no corpus-wide rank window)
    fused by reciprocal rank. Query terms derive from the corpus (top-3
    words), the query vector is embedding id 0 — both deterministic
    across testdata regenerations."""
    from zacks_estimates_financial_statements_spark.operators import retrieval
    from zacks_estimates_financial_statements_spark.operators.curation import _word_array

    docs = _t(spark, sf, "documents")
    emb = _emb(spark, sf)
    # NULL contract: term derivation over ADDRESSABLE docs only (the
    # bm25 index frame — see q_bm25_search, r10 high-rate fuzz)
    top = (docs.filter(F.col("doc_id").isNotNull())
           .select(F.explode(_word_array("text")).alias("w"))
           .groupBy("w").agg(F.count("*").alias("n"))
           .orderBy(F.desc("n"), F.asc("w")).limit(3).collect())
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding") \
        .collect()[0]["embedding"]
    out = retrieval.hybrid_search(
        docs, "doc_id", "text", [r["w"] for r in top],
        emb, "vec_id", "embedding", list(qvec), top_n=50)
    return out.select("doc_id", "rank_1", "rank_2", "rrf_score", "rank")


ORACLE_HYBRID_SEARCH = f"""
WITH lex AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
      (row_number() OVER (ORDER BY score DESC, doc_id ASC))::INT AS rank
    FROM ({{bm25}}) b) WHERE rank <= 50),
qv AS (SELECT embedding AS q FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) embeddings WHERE vec_id = 0),
semall AS (
  -- duplicate-id contract: candidate lists are keyed — best score per id
  SELECT e.vec_id AS doc_id,
    max(round({_COS_SQL.format(a="e.embedding", b="qv.q")}, 6)) AS s
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e, qv
  GROUP BY e.vec_id),
sem AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
      (row_number() OVER (ORDER BY s DESC, doc_id ASC))::INT AS rank
    FROM semall WHERE s IS NOT NULL) WHERE rank <= 50),
f AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
    l.rank AS rank_1, s.rank AS rank_2
  FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id),
scored AS (
  SELECT doc_id, rank_1, rank_2,
    round(coalesce(1.0 / (60.0 + rank_1), 0.0)
          + coalesce(1.0 / (60.0 + rank_2), 0.0), 6) AS rrf_score
  FROM f)
SELECT doc_id, rank_1, rank_2, rrf_score,
  (row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC))::INT AS rank
FROM scored
"""


def q_paragraph_dedup(spark, sf):
    """CCNet-style paragraph dedup (operators/dedup.py): documents are
    synthesized into multi-paragraph form (8-word groups joined by
    newlines — closed-form in both engines), then every paragraph whose
    normalized fingerprint occurred earlier in the corpus is dropped
    and documents reassemble from the survivors. The testdata's planted
    near/exact duplicate documents make the drop path non-vacuous."""
    from zacks_estimates_financial_statements_spark.operators.curation import _word_array

    docs = _t(spark, sf, "documents")
    staged = docs.select("doc_id", _word_array("text").alias("__w"))
    n_groups = F.ceil(F.size("__w") / F.lit(8.0)).cast("int")
    paras = F.when(
        F.size("__w") >= 1,
        F.transform(F.sequence(F.lit(0), n_groups - 1),
                    lambda g: F.concat_ws(
                        " ", F.slice("__w", g * 8 + 1, 8)))) \
        .otherwise(F.array().cast("array<string>"))
    synth = staged.select("doc_id", F.array_join(paras, "\n").alias("t"))
    return dedup.paragraph_dedup(synth, "doc_id", "t")


ORACLE_PARAGRAPH_DEDUP = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  -- NULL-id contract: unaddressable rows own/keep no paragraphs (the
  -- engines order NULL ids oppositely in the winner sort); their
  -- output rows stay via the final LEFT JOIN (0 paras, '' text)
  FROM documents WHERE doc_id IS NOT NULL),
paras AS (
  SELECT doc_id, g AS pidx,
    array_to_string(t[g * 8 + 1 : least((g + 1) * 8, len(t))], ' ')
      AS para,
    md5(trim(regexp_replace(lower(
      array_to_string(t[g * 8 + 1 : least((g + 1) * 8, len(t))], ' ')),
      '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM toks, unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS u(g)
  WHERE len(t) >= 1),
winners AS (
  SELECT fp, doc_id, pidx FROM (
    SELECT fp, doc_id, pidx,
      row_number() OVER (PARTITION BY fp ORDER BY doc_id, pidx) AS rn
    FROM paras) WHERE rn = 1),
kept AS (
  SELECT p.doc_id, p.pidx, p.para
  FROM paras p JOIN winners w
    ON p.fp = w.fp AND p.doc_id = w.doc_id AND p.pidx = w.pidx),
stats AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id),
reb AS (
  -- conflicting-copy contract (r10): copies of one id merge their
  -- paragraph multisets per LOGICAL doc; the reassembly order pins
  -- the (pidx) tie two divergent copies create with the paragraph
  -- text itself (Spark sorts struct(pidx, para))
  SELECT doc_id, count(*) AS n_kept,
    string_agg(para, chr(10) ORDER BY pidx, para) AS clean_text
  FROM kept GROUP BY doc_id)
SELECT d.doc_id,
  coalesce(r.clean_text, '') AS clean_text,
  coalesce(s.n_paras, 0)::BIGINT AS n_paras,
  coalesce(r.n_kept, 0)::BIGINT AS n_kept
FROM documents d
LEFT JOIN stats s ON d.doc_id = s.doc_id
LEFT JOIN reb r ON d.doc_id = r.doc_id
"""


def q_html_to_text(spark, sf):
    """HTML -> training-text strip tier (operators/extraction.py):
    documents wrapped in a synthesized page (script/style blocks,
    comments, nav/footer chrome, the six common entities) and cleaned
    by the native-expression strip. The oracle runs the same
    RE2-compatible regex chain in DuckDB over identically synthesized
    HTML, so the check covers block removal order, tag strip, entity
    decode order (amp last) and whitespace collapse."""
    from zacks_estimates_financial_statements_spark.operators import extraction

    docs = _t(spark, sf, "documents")
    raw = F.concat(
        F.lit('<html><head><title>T</title>'
              '<script type="text/javascript">var x = 1 && 2;</script>'
              '<style>p { color: red; }</style></head>'
              '<body><nav><a href="/">Home</a> | '
              '<a href="/about">About</a></nav><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</h1><!-- tracking --><p>'), F.col("text"),
        F.lit(' &amp; more &lt;tags&gt; &quot;here&quot; '
              '&#39;q&#39;&nbsp;end</p>'
              '<footer>(c) 2026 example.com</footer></body></html>'))
    return docs.select(
        "doc_id", extraction.strip_html_tags(raw).alias("clean_text"))


ORACLE_HTML_TO_TEXT = """
WITH raw AS (
  SELECT doc_id,
    '<html><head><title>T</title>'
    || '<script type="text/javascript">var x = 1 && 2;</script>'
    || '<style>p { color: red; }</style></head>'
    || '<body><nav><a href="/">Home</a> | '
    || '<a href="/about">About</a></nav><h1>Doc '
    || doc_id::VARCHAR
    || '</h1><!-- tracking --><p>' || text
    || ' &amp; more &lt;tags&gt; &quot;here&quot; '
    || '&#39;q&#39;&nbsp;end</p>'
    || '<footer>(c) 2026 example.com</footer></body></html>' AS h
  FROM documents)
SELECT doc_id,
  trim(regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(
    regexp_replace(h,
      '{script_re}', ' ', 'g'),
      '{style_re}', ' ', 'g'),
      '(?s)<!--.*?-->', ' ', 'g'),
      '(?s)<[^>]*>', ' ', 'g'),
      '&lt;', '<', 'g'),
      '&gt;', '>', 'g'),
      '&quot;', '"', 'g'),
      '&#39;', CHR(39), 'g'),
      '&nbsp;', ' ', 'g'),
      '&amp;', '&', 'g'),
    '[ \t\n\x0b\f\r]+', ' ', 'g')) AS clean_text
FROM raw
"""

# Interpolate the shared cross-engine HTML block patterns (see
# operators/extraction.py: ASCII-pinned case classes instead of (?i) —
# RE2 folds U+017F into [sS] where Java does not; explicit ASCII-
# non-word name boundary instead of \b — Java's \b is Unicode-aware,
# RE2's is ASCII; explicit whitespace class instead of \s).
from zacks_estimates_financial_statements_spark.operators import extraction as _X  # noqa: E402
ORACLE_HTML_TO_TEXT = (
    ORACLE_HTML_TO_TEXT
    .replace("{script_re}", _X.SCRIPT_BLOCK_RE.replace("'", "''"))
    .replace("{style_re}", _X.STYLE_BLOCK_RE.replace("'", "''")))


def q_classifier_score(spark, sf):
    """Model-based quality scoring (operators/curation.py): hashed
    bag-of-words linear classifier, fastText-style mean pooling through
    a sigmoid. The weight relation is synthesized deterministically
    from the corpus's own observed feature buckets (a closed-form
    pseudo-model both engines can derive), so the oracle checks the
    whole inference machinery — feature hashing, broadcast model join,
    decimal-exact pooling, sigmoid — not a stored artifact."""
    from zacks_estimates_financial_statements_spark.operators.curation import _word_array
    from zacks_estimates_financial_statements_spark.operators.dedup import hash60

    docs = _t(spark, sf, "documents")
    dim = 1 << 20
    buckets = (docs.select(F.explode(_word_array("text")).alias("__tok"))
               .select((hash60(F.col("__tok")) % F.lit(dim))
                       .alias("bucket")).distinct())
    weights = buckets.withColumn(
        "weight", (F.col("bucket") % 1000 - 500) / F.lit(500.0))
    return curation.classifier_quality_score(docs, "doc_id", "text",
                                             weights, dim=dim)


ORACLE_CLASSIFIER_SCORE = """
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                       x -> x <> '')) AS tok
  FROM documents),
feat AS (
  SELECT doc_id,
    (('0x' || substr(md5(tok), 1, 15))::BIGINT % 1048576) AS bucket
  FROM toks),
per AS (
  SELECT doc_id,
    sum(round(((bucket % 1000) - 500) / 500.0, 6)::DECIMAL(38,6)) AS s,
    count(*) AS n
  FROM feat GROUP BY doc_id)
SELECT doc_id, n::BIGINT AS n_features,
  round(1.0 / (1.0 + exp(-(s::DOUBLE / n))), 6) AS score
FROM per
"""


def q_wordpiece_encode(spark, sf):
    """Greedy longest-match subword tokenization
    (functions/tokenize.py): the vocabulary (prefixes of the 20 most
    frequent corpus words + the corpus alphabet) derives from the
    corpus itself, so the DuckDB twin re-derives BOTH the vocab and the
    encoding closed-form — a recursive CTE performing the same maximal
    munch. Output is the per-doc model-token count and the full
    space-joined piece stream (so the hash checks every piece
    boundary, not just counts)."""
    docs = _t(spark, sf, "documents")
    vocab = tokenize.wordpiece_vocab(docs, "text", top_k=20,
                                     max_piece_len=6)
    enc = tokenize.wordpiece_encode(docs, "doc_id", "text", vocab,
                                    max_piece_len=6)
    # duplicate-id contract: the encoder emits ONE ROW PER INPUT ROW
    # (zero-shuffle mapInPandas) — physical copies each encode
    # independently. No join-back: the earlier docs⋈enc left join both
    # amplified duplicates quadratically (2×2 rows per duplicated id)
    # and paid a needless shuffle. NULL-id rows are unaddressable and
    # keep the prior 0/"" masking.
    addr = F.col("doc_id").isNotNull()
    return enc.select(
        "doc_id",
        F.when(addr, F.col("n_tokens")).otherwise(F.lit(0))
        .alias("n_tokens"),
        F.when(addr, F.coalesce(F.concat_ws(" ", "tokens"), F.lit("")))
        .otherwise(F.lit("")).alias("token_str"))


ORACLE_WORDPIECE_ENCODE = """
WITH RECURSIVE toks AS MATERIALIZED (
  -- duplicate-id contract (wordpiece_encode): ONE ROW PER INPUT ROW —
  -- rid tags physical rows so copies of one id encode independently
  -- instead of interleaving into a doubled stream
  SELECT row_number() OVER () AS rid, doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
words AS (
  SELECT rid, doc_id, i AS widx, t[i] AS word
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
top AS (
  SELECT word FROM (
    SELECT word, count(*) AS n FROM words GROUP BY word
    ORDER BY n DESC, word LIMIT 20)),
pieces AS (
  SELECT DISTINCT substr(word, 1, l) AS piece
  FROM top, unnest(range(1, least(length(word), 6) + 1)) AS u(l)
  UNION
  SELECT DISTINCT substr(word, i, 1) AS piece
  FROM (SELECT DISTINCT word FROM words) w,
       unnest(range(1, length(word) + 1)) AS u(i)),
enc AS (
  SELECT rid, widx, word, 1 AS pos, '' AS toks, 0 AS n
  FROM words
  UNION ALL
  SELECT rid, widx, word,
    pos + coalesce(length(best), 1),
    toks || ' ' || coalesce(best, '<unk>'),
    n + 1
  FROM (
    SELECT e.rid, e.widx, e.word, e.pos, e.toks, e.n,
      (SELECT p.piece FROM pieces p
       WHERE p.piece = substr(e.word, e.pos, length(p.piece))
       ORDER BY length(p.piece) DESC LIMIT 1) AS best
    FROM enc e
    WHERE e.pos <= length(e.word)) s),
per_word AS (
  SELECT rid, widx, trim(toks) AS wt, n
  FROM enc WHERE pos > length(word)),
agg AS (
  SELECT rid, sum(n)::BIGINT AS n_tokens,
    string_agg(wt, ' ' ORDER BY widx) AS token_str
  FROM per_word GROUP BY rid)
SELECT t.doc_id,
  CASE WHEN t.doc_id IS NULL THEN 0
       ELSE coalesce(a.n_tokens, 0) END::BIGINT AS n_tokens,
  CASE WHEN t.doc_id IS NULL THEN ''
       ELSE coalesce(a.token_str, '') END AS token_str
FROM toks t LEFT JOIN agg a ON t.rid = a.rid
"""


def q_mixture_plan(spark, sf):
    """Corpus mixing plan: token accounting per source plus the
    repeat factor / max-retention sampling rate that hit the target
    mixture (12 of 20 sources weighted, the rest zeroed)."""
    docs = _t(spark, sf, "documents")
    return curation.mixture_plan(docs, "source", "text", _MIXTURE_TARGETS)


def _oracle_mixture_plan() -> str:
    total = sum(_MIXTURE_TARGETS.values())
    branches = " ".join(
        f"WHEN source = '{name}' THEN {t / total!r}"
        for name, t in _MIXTURE_TARGETS.items())
    return f"""
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
    sum(len(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                        x -> x <> '')))::BIGINT AS n_tokens
  FROM documents GROUP BY source),
t AS (
  SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
    CAST(CASE {branches} ELSE 0.0 END AS DOUBLE) AS tgt
  FROM per),
-- zero-token contract (r11): a token-free stratum has NULL
-- repeat_factor/sample_rate; a token-free corpus has NULL shares
r AS (SELECT *, CASE WHEN n_tokens > 0
                     THEN tgt * total / n_tokens END AS rf FROM t),
m AS (SELECT *, max(rf) OVER () AS rfmax FROM r)
SELECT source, n_docs, n_tokens,
  round(CASE WHEN total > 0 THEN n_tokens / total END, 6) AS current_share,
  round(tgt, 6) AS target_share,
  round(rf, 6) AS repeat_factor,
  round(CASE WHEN rfmax > 0 THEN rf / rfmax END, 6) AS sample_rate
FROM m
"""


def q_quantile_gate(spark, sf):
    """Per-source median-quality gate: keep each source's top half by
    the composite quality score (exact percentile ≡ quantile_cont)."""
    docs = _t(spark, sf, "documents")
    scored = docs.select(
        "doc_id", "source",
        T.quality_score(F.col("text")).alias("quality"))
    out = curation.quantile_gate(scored, "source", "quality", q=0.5)
    return out.select("doc_id", "source",
                      F.round("quality", 6).alias("quality"),
                      F.round("threshold", 6).alias("threshold"))


ORACLE_QUANTILE_GATE = f"""
WITH s AS (
  SELECT doc_id, source, quality FROM ({_QUALITY_STATS_SQL})),
th AS (
  SELECT source, quantile_cont(quality, 0.5) AS threshold
  FROM s GROUP BY source)
SELECT s.doc_id, s.source, round(s.quality, 6) AS quality,
  round(th.threshold, 6) AS threshold
FROM s JOIN th USING (source)
WHERE s.quality >= th.threshold
"""


def q_token_budget_fill(spark, sf):
    """Budget-constrained selection: fill 1500 tokens per source from
    its highest-quality documents (deterministic id tie-break)."""
    docs = _t(spark, sf, "documents")
    scored = docs.select(
        "doc_id", "source", "text",
        T.quality_score(F.col("text")).alias("quality"))
    out = curation.token_budget_fill(scored, "source", "text",
                                     "quality", "doc_id", budget=1500)
    return out.select("doc_id", "source",
                      F.round("quality", 6).alias("quality"),
                      "n_tokens", "cum_tokens")


ORACLE_TOKEN_BUDGET_FILL = f"""
WITH s AS (
  -- duplicate-id contract (token_budget_fill, r10): a fill decision is
  -- per distinct VERSION (id, priority, n_tokens) — verbatim copies
  -- charge the budget ONCE, divergent-content copies each charge
  -- (DISTINCT here = the Spark side's full-version lag guard inside
  -- the fill window); quality and token count come from the SAME
  -- physical row (the r9 two-relation join cross-paired versions)
  SELECT DISTINCT doc_id, source, quality,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                    x -> x <> ''))::BIGINT AS n_tokens
  FROM ({_QUALITY_STATS_SQL})
  -- NULL contract: NULL id = unaddressable, excluded (Spark filter)
  WHERE doc_id IS NOT NULL),
c AS (
  SELECT doc_id, source, quality, n_tokens,
    sum(n_tokens) OVER (PARTITION BY source
                        ORDER BY quality DESC, doc_id, n_tokens
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum_tokens
  FROM s)
SELECT doc_id, source, round(quality, 6) AS quality, n_tokens,
  cum_tokens::BIGINT AS cum_tokens
FROM c WHERE cum_tokens <= 1500
"""


def q_pack_sequences(spark, sf):
    """GPT-style sequence packing: documents laid end-to-end into 8
    hash-dealt token streams, 256-token training windows; each doc's
    landing position is fully deterministic."""
    docs = _t(spark, sf, "documents")
    return curation.pack_sequences(docs, "doc_id", "text",
                                   budget=256, n_streams=8)


ORACLE_PACK_SEQUENCES = """
WITH base AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                    x -> x <> ''))::BIGINT AS n_tokens,
    ('0x' || substr(md5('pack|' || doc_id::VARCHAR), 1, 15))::BIGINT
      % 1000000 AS bucket
  FROM documents),
laid AS (
  SELECT doc_id, bucket % 8 AS stream, n_tokens,
    sum(n_tokens) OVER (PARTITION BY bucket % 8 ORDER BY bucket, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - n_tokens AS start_offset
  FROM base)
SELECT doc_id, stream::BIGINT AS stream, n_tokens,
  start_offset::BIGINT AS start_offset,
  (start_offset // 256)::BIGINT AS pack_id,
  (start_offset % 256)::BIGINT AS pack_offset
FROM laid
"""


def q_cross_modal_pairs(spark, sf):
    """Cross-evidence dedup check: every MinHash text near-dup pair
    annotated with the embedding-space cosine of its two documents —
    the agreement signal a pipeline uses before trusting a borderline
    text match. The tiny pair set broadcasts into both embedding
    joins; the embedding table never shuffles."""
    docs = _t(spark, sf, "documents")
    emb = _emb(spark, sf)
    pairs = dedup.minhash_near_dup_pairs(docs, "doc_id", "text",
                                         k=12, bands=4)
    ea = emb.select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("__va"),
                    vectors.norm_fast("embedding").alias("__na"))
    eb = emb.select(F.col("vec_id").alias("id_b"),
                    F.col("embedding").alias("__vb"),
                    vectors.norm_fast("embedding").alias("__nb"))
    half = ea.join(F.broadcast(pairs), "id_a")
    return (eb.join(F.broadcast(half), "id_b")
            .select("id_a", "id_b", "est_jaccard",
                    F.round(vectors.cosine_prenorm("__va", "__vb",
                                                   "__na", "__nb"), 6)
                    .alias("cosine")))


ORACLE_CROSS_MODAL_PAIRS = f"""
WITH shingled AS ({_SHINGLE_SQL.format(km1=2)}),
{_MINHASH_SIGS_CTE},
{_LSH_CAND_CTES},
scored AS ({_LSH_SCORED_SELECT})
SELECT s.id_a, s.id_b, s.est_jaccard,
  round({_COS_SQL.format(a='ea.embedding', b='eb.embedding')}, 6) AS cosine
FROM scored s
JOIN (SELECT * FROM embeddings WHERE vec_id IS NOT NULL
      AND embedding IS NOT NULL) ea ON ea.vec_id = s.id_a
JOIN (SELECT * FROM embeddings WHERE vec_id IS NOT NULL
      AND embedding IS NOT NULL) eb ON eb.vec_id = s.id_b
"""


def q_url_dedup(spark, sf):
    """Crawl-level URL canonicalization + dedup (functions/web.py):
    URLs synthesized from documents with every messy variant the
    canonicalizer must fix — upper-case scheme/host, www., default
    ports, trailing slashes, tracking params, unsorted query params,
    fragments. Since r11 the oracle MIRRORS web.canonical_url
    step-for-step (_canon_url_ctes — a fuzzed `source` can carry '/',
    moving the host/path boundary, so a closed form can't survive the
    unicode dial); the spec itself is verified against hand-computed
    expected values by the clean-input probe that oracle_check /
    contract_fuzz run before every battery (tools/spec_probe.py) and
    by tests/test_web.py."""
    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".Example.COM"),
        F.when(d % 4 == 0,
               F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")))
        .otherwise(F.lit("")),
        F.lit("/Docs/"), F.expr("doc_id DIV 25").cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("?utm_source=feed&b=0&a=1"))
        .otherwise(F.lit("?a=1&b=1")),
        F.when(d % 6 == 0, F.lit("#sec")).otherwise(F.lit("")))
    out = web.url_dedup(docs.select("doc_id", raw.alias("url")),
                        "doc_id", "url")
    return out.select("doc_id", "canonical_url", "n_variants", "keep")


# r11 Unicode contract: the twin now MIRRORS the canonicalizer (real
# parse via _canon_url_ctes) instead of deriving the closed form — a
# fuzzed `source` can carry '/', '?' or uppercase-İ content that moves
# the host/path boundary, and hostname lowering is pinned ASCII-only
# (RFC 4343), which no closed form over lower(source) can express.
ORACLE_URL_DEDUP = f"""
WITH syn AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://'
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || source || '.Example.COM'
    || (CASE WHEN doc_id % 4 = 0 THEN
          (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
        ELSE '' END)
    || '/Docs/' || (doc_id // 25)
    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=0&a=1'
        ELSE '?a=1&b=1' END)
    || (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS u
  FROM documents),{_canon_url_ctes("syn", "doc_id")}
SELECT doc_id, canon AS canonical_url,
  count(*) OVER (PARTITION BY canon) AS n_variants,
  doc_id = min(doc_id) OVER (PARTITION BY canon) AS keep
FROM __cu3
"""


def q_quantize_embeddings(spark, sf):
    """Int8 scalar quantization of the embedding corpus (FAISS
    SQ8-style): per-vector symmetric scale, components to
    floor(v/scale + 0.5), mean-abs reconstruction error. One
    projection, zero shuffles; folds run left-to-right to match
    DuckDB's list_reduce order."""
    emb = _emb(spark, sf)
    return similarity.quantize_embeddings(emb, "vec_id", "embedding")


ORACLE_QUANTIZE = """
WITH s AS (
  SELECT vec_id, embedding,
    list_reduce(list_prepend(0.0, list_transform(embedding,
      v -> abs(v::DOUBLE))), (a, b) -> greatest(a, b)) / 127 AS scale
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) embeddings),
q AS (
  SELECT vec_id, embedding, scale,
    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
      ELSE CAST(floor(x::DOUBLE / scale + 0.5) AS INT) END) AS qvec
  FROM s)
SELECT vec_id, round(scale, 6) AS scale, qvec,
  round(list_reduce(list_prepend(0.0,
    list_transform(list_zip(embedding, qvec),
      p -> abs(p[1]::DOUBLE - p[2]::DOUBLE * scale))),
    (a, b) -> a + b) / len(embedding), 6) AS mae
FROM q
"""


def q_domain_quota(spark, sf):
    """Per-site quota capping: hosts extracted with functions/web.py,
    top-10 docs per host by quality proxy (n_chars), ties broken by id.
    One window shuffle on the host."""
    docs = _t(spark, sf, "documents")
    # NULL contract: quota ranks addressable docs of a known host —
    # a NULL doc_id/source null-propagates into the synthesized URL
    docs = docs.filter(F.col("doc_id").isNotNull()
                       & F.col("source").isNotNull())
    raw = F.concat(F.lit("https://www."), F.col("source"),
                   F.lit(".Example.COM/p/"), F.col("doc_id"))
    d = docs.select("doc_id", "n_chars", web.url_host(raw).alias("host"))
    out = curation.domain_quota(d, "host", "doc_id", 10,
                                priority_col="n_chars")
    return out.select("doc_id", "host", "host_rank", "keep")


ORACLE_DOMAIN_QUOTA = """
WITH d AS (
  SELECT doc_id, n_chars,
    {host_expr} AS host
  -- NULL contract: quota ranks addressable docs of a known host
  -- (Spark's URL synthesis null-propagates doc_id into the host)
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL),
-- duplicate-id contract (domain_quota, r10): a quota slot is per
-- distinct VERSION (host, priority, id) — verbatim copies share one
-- rank, divergent-priority copies rank separately, and the attach
-- back to physical rows is keyed by the full version
dd AS (SELECT DISTINCT doc_id, n_chars, host FROM d),
r AS (
  SELECT doc_id, n_chars, host,
    (row_number() OVER (PARTITION BY host
       ORDER BY n_chars DESC, doc_id ASC))::INT AS rn
  FROM dd)
SELECT d.doc_id, d.host, r.rn AS host_rank, r.rn <= 10 AS keep
FROM d JOIN r ON d.doc_id = r.doc_id AND d.host = r.host
  AND d.n_chars IS NOT DISTINCT FROM r.n_chars
"""


def q_domain_quota_skewsafe(spark, sf):
    """The two-phase skew-safe quota path (``exact_ranks=False``):
    salted per-bucket top-N then a bounded candidate re-rank — same
    kept set and exact kept ranks as the window form (proof in the
    operator docstring), NULL tail ranks. The oracle twin states the
    equivalence: row_number capped at N, NULL beyond."""
    docs = _t(spark, sf, "documents")
    # NULL contract: quota ranks addressable docs of a known host —
    # a NULL doc_id/source null-propagates into the synthesized URL
    docs = docs.filter(F.col("doc_id").isNotNull()
                       & F.col("source").isNotNull())
    raw = F.concat(F.lit("https://www."), F.col("source"),
                   F.lit(".Example.COM/p/"), F.col("doc_id"))
    d = docs.select("doc_id", "n_chars", web.url_host(raw).alias("host"))
    out = curation.domain_quota(d, "host", "doc_id", 10,
                                priority_col="n_chars",
                                exact_ranks=False)
    return out.select("doc_id", "host", "host_rank", "keep")


ORACLE_DOMAIN_QUOTA_SKEWSAFE = """
WITH d AS (
  SELECT doc_id, n_chars,
    {host_expr} AS host
  -- NULL contract: same addressability filter as ORACLE_DOMAIN_QUOTA
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL),
-- duplicate-id contract: same per-VERSION slot rule as
-- ORACLE_DOMAIN_QUOTA (rank over DISTINCT (host, priority, id)
-- versions, attach keyed by the full version)
dd AS (SELECT DISTINCT doc_id, n_chars, host FROM d),
r AS (
  SELECT doc_id, n_chars, host,
    (row_number() OVER (PARTITION BY host
       ORDER BY n_chars DESC, doc_id ASC))::INT AS rn
  FROM dd)
SELECT d.doc_id, d.host,
  CASE WHEN r.rn <= 10 THEN r.rn END AS host_rank,
  r.rn <= 10 AS keep
FROM d JOIN r ON d.doc_id = r.doc_id AND d.host = r.host
  AND d.n_chars IS NOT DISTINCT FROM r.n_chars
"""

# r11 Unicode contract: the host derivation mirrors web.url_host (real
# parse, ASCII-only lowering per RFC 4343) — fuzzed `source` values can
# carry '/' (moves the host boundary) or İ (full-vs-simple lower).
_DQ_HOST = _url_host_sql(
    "regexp_replace('www.' || source || '.Example.COM/p/' || doc_id, "
    "'#.*$', '')")
ORACLE_DOMAIN_QUOTA = ORACLE_DOMAIN_QUOTA.replace("{host_expr}", _DQ_HOST)
ORACLE_DOMAIN_QUOTA_SKEWSAFE = ORACLE_DOMAIN_QUOTA_SKEWSAFE.replace(
    "{host_expr}", _DQ_HOST)


def q_time_rollup(spark, sf):
    """Hypertable-style multi-granularity rollup: events bucketed to
    minute/hour/day per event_type via CHAINED re-aggregation (one
    full-size shuffle at the finest level, then geometrically shrinking
    re-aggs) instead of GROUPING SETS' Expand, which would triple the
    pre-shuffle row volume. Decimal sums make the chain exactly equal
    to direct per-level aggregation — which is what the oracle runs."""
    ev = _t(spark, sf, "events")
    out = temporal.hierarchical_rollup(ev, "ts", ["event_type"], "value",
                                       ("minute", "hour", "day"))
    return out.select(
        "granularity", "event_type",
        F.unix_micros("bucket").alias("bucket_us"), "n_events",
        decimal_text(F.col("sum_value")).alias("sum_value"))


ORACLE_TIME_ROLLUP = f"""
SELECT 'minute' AS granularity, event_type,
  epoch_us(date_trunc('minute', ts)) AS bucket_us,
  count(*)::BIGINT AS n_events,
  {_dt_sql(f"sum({_decg('value')})")} AS sum_value
FROM events GROUP BY event_type, date_trunc('minute', ts)
UNION ALL
SELECT 'hour', event_type, epoch_us(date_trunc('hour', ts)),
  count(*)::BIGINT, {_dt_sql(f"sum({_decg('value')})")}
FROM events GROUP BY event_type, date_trunc('hour', ts)
UNION ALL
SELECT 'day', event_type, epoch_us(date_trunc('day', ts)),
  count(*)::BIGINT, {_dt_sql(f"sum({_decg('value')})")}
FROM events GROUP BY event_type, date_trunc('day', ts)
"""


def q_repeated_spans(spark, sf):
    """Exact cross-document repeated-span dedup (ACL'22 sliding-window
    substring dedup): 4-token windows appearing in >= 3 distinct docs,
    merged into maximal per-doc intervals via gaps-and-islands."""
    docs = _t(spark, sf, "documents")
    return curation.repeated_spans(docs, "doc_id", "text",
                                   k=4, min_docs=3)


ORACLE_REPEATED_SPANS = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  -- NULL-id contract: unaddressable rows neither carry spans nor
  -- count toward min_docs (dense_rank vs count-distinct NULL story)
  FROM documents WHERE doc_id IS NOT NULL),
spans AS (
  SELECT doc_id, i AS s, i + 3 AS e, array_to_string(t[i:i+3], ' ') AS g
  FROM toks, unnest(range(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 4),
rep AS (
  SELECT g FROM spans GROUP BY g HAVING count(DISTINCT doc_id) >= 3),
-- duplicate-copy contract: DISTINCT (id, position) hits (copies
-- of one doc put one hit at one position twice; window ties then
-- split islands differently across engines)
hit AS (SELECT DISTINCT doc_id, s, e FROM spans
        WHERE g IN (SELECT g FROM rep)),
brk AS (
  SELECT doc_id, s, e,
    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
    THEN 1 ELSE 0 END AS b
  FROM hit),
isl AS (
  SELECT doc_id, s, e,
    sum(b) OVER (PARTITION BY doc_id ORDER BY s
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM brk)
SELECT doc_id, min(s)::INT AS span_start, max(e)::INT AS span_end,
  (max(e) - min(s) + 1)::INT AS n_tokens, count(*)::BIGINT AS n_spans
FROM isl GROUP BY doc_id, island
"""


def q_url_filter(spark, sf):
    """UT1-style URL blocklist gate (functions/web.py ``url_filter``):
    synthesized per-doc URLs against a 2-domain blocklist (suffix
    match on dot boundaries, longest suffix reported) + one path
    regex; the oracle derives every flag independently from the
    synthesis arithmetic."""
    docs = _t(spark, sf, "documents")
    # NULL contract: synthesized per-doc inputs need an id (NULL
    # null-propagates every doc_id-derived expression)
    docs = docs.filter(F.col("doc_id").isNotNull())
    d = F.col("doc_id")
    url = F.concat(F.lit("https://h"), (d % 7).cast("string"),
                   F.lit(".test"), (d % 3).cast("string"),
                   F.lit(".org/p/"), d.cast("string"))
    # sequence form -> the zero-join literal tier (r12); the DataFrame
    # join tier is pinned equivalent by test_url_filter_tier_parity
    return web.url_filter(docs.select("doc_id", url.alias("u")),
                          "doc_id", "u", ("test0.org", "h3.test1.org"),
                          blocked_patterns=(r"/p/\d*7$",))


ORACLE_URL_FILTER = r"""
WITH base AS (
  SELECT doc_id,
    'https://h' || (doc_id % 7) || '.test' || (doc_id % 3)
      || '.org/p/' || doc_id AS url,
    'h' || (doc_id % 7) || '.test' || (doc_id % 3) || '.org' AS host
  FROM documents WHERE doc_id IS NOT NULL)
SELECT doc_id, url, host,
  CASE WHEN (doc_id % 7) = 3 AND (doc_id % 3) = 1 THEN 'h3.test1.org'
       WHEN (doc_id % 3) = 0 THEN 'test0.org' END AS matched_domain,
  CASE WHEN regexp_matches(url, '/p/\d*7$') THEN '/p/\d*7$' END
    AS matched_pattern,
  (NOT ((doc_id % 3) = 0 OR ((doc_id % 7) = 3 AND (doc_id % 3) = 1)))
    AND NOT regexp_matches(url, '/p/\d*7$') AS keep
FROM base
"""


def q_drop_repeated_spans(spark, sf):
    """Repeated-span REMOVAL (operators/curation.py
    ``drop_repeated_spans``, ACL'22 ExactSubstr §4.1): cut the merged
    4-token/3-doc repeated intervals out of every document and rejoin
    the survivors — one posexplode, one id-equi + range-residual
    membership join, one ordered reassembly."""
    docs = _t(spark, sf, "documents")
    return curation.drop_repeated_spans(docs, "doc_id", "text",
                                        k=4, min_docs=3)


# Reuses the repeated_spans chain, then removes interval members and
# re-joins survivors in position order.
ORACLE_DROP_REPEATED_SPANS = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
spans AS (
  SELECT doc_id, i AS s, i + 3 AS e, array_to_string(t[i:i+3], ' ') AS g
  -- NULL-id contract: span DETECTION runs over addressable docs only
  -- (mirrors repeated_spans); NULL-id rows keep their degraded
  -- reassembly row via the final LEFT JOIN
  FROM toks, unnest(range(1, len(t) - 2)) AS u(i)
  WHERE len(t) >= 4 AND doc_id IS NOT NULL),
rep AS (
  SELECT g FROM spans GROUP BY g HAVING count(DISTINCT doc_id) >= 3),
-- duplicate-copy contract: DISTINCT (id, position) hits (copies
-- of one doc put one hit at one position twice; window ties then
-- split islands differently across engines)
hit AS (SELECT DISTINCT doc_id, s, e FROM spans
        WHERE g IN (SELECT g FROM rep)),
brk AS (
  SELECT doc_id, s, e,
    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
    THEN 1 ELSE 0 END AS b
  FROM hit),
isl AS (
  SELECT doc_id, s, e,
    sum(b) OVER (PARTITION BY doc_id ORDER BY s
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM brk),
iv AS (
  SELECT doc_id, min(s) AS s, max(e) AS e FROM isl
  GROUP BY doc_id, island),
pos AS (
  SELECT doc_id, u.i AS p, t[u.i] AS w
  FROM toks, unnest(range(1, len(t) + 1)) u(i)),
kept AS (
  SELECT p.doc_id, p.p, p.w FROM pos p
  WHERE NOT EXISTS (SELECT 1 FROM iv WHERE iv.doc_id = p.doc_id
                    AND p.p BETWEEN iv.s AND iv.e)),
agg AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY p, w) AS clean_text,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
  (coalesce(len(t.t), 0) - coalesce(a.n_kept, 0))::BIGINT AS n_removed
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


def q_c4_clean(spark, sf):
    """C4-style line cleaning (operators/curation.py ``c4_clean``,
    Raffel et al. JMLR'20 §2.2): synthesized multi-line text — a good
    sentence, a too-short line, a doc-numbered sentence, a javascript
    phrase line, plus arithmetic-conditional "lorem ipsum" /
    badword-token lines — so every rule fires on a known subset; the
    oracle derives every flag and the cleaned text independently from
    the synthesis arithmetic."""
    docs = _t(spark, sf, "documents")
    # NULL contract: synthesized per-doc inputs need an id (NULL
    # null-propagates every doc_id-derived expression)
    docs = docs.filter(F.col("doc_id").isNotNull())
    d = F.col("doc_id")
    nl = F.lit("\n")
    text2 = F.concat(
        F.lit("This is a perfectly good sentence with many words."),
        nl, F.lit("too short"),
        nl, F.lit("Doc number "), d.cast("string"),
        F.lit(" has a trailing period."),
        nl, F.lit("Please enable javascript to continue viewing."),
        F.when(d % 7 == 0,
               F.concat(nl, F.lit("lorem ipsum dolor sit amet.")))
        .otherwise(F.lit("")),
        F.when(d % 11 == 0,
               F.concat(nl, F.lit("Badword1 appears right here okay.")))
        .otherwise(F.lit("")))
    return curation.c4_clean(
        docs.select("doc_id", text2.alias("t")), "doc_id", "t",
        badwords=("badword1",), min_kept_lines=2)


ORACLE_C4_CLEAN = """
SELECT doc_id,
  'This is a perfectly good sentence with many words.' || chr(10)
    || 'Doc number ' || doc_id || ' has a trailing period.'
    || CASE WHEN doc_id % 7 = 0
            THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN chr(10) || 'Badword1 appears right here okay.'
            ELSE '' END AS clean_text,
  (4 + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
     + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_lines,
  (2 + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END
     + CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)::BIGINT
    AS n_kept_lines,
  (doc_id % 11 = 0) AS has_badword,
  (doc_id % 7 = 0) AS has_doc_drop,
  (doc_id % 7 <> 0 AND doc_id % 11 <> 0) AS keep
FROM documents WHERE doc_id IS NOT NULL  -- NULL contract: addressable docs only
"""


def q_politeness_schedule(spark, sf):
    """Batch politeness scheduler (functions/web.py
    ``politeness_schedule``): events as fetch requests against 50
    rate-limit keys at the reference's 1-fetch/10 s contract
    (estimate-extract.rkt:89-98). The sequential
    ``sched = max(arrival, prev + 10 s)`` recurrence runs as its
    closed-form running-max window — one shuffle on the key."""
    ev = _t(spark, sf, "events")
    req = ev.select((F.col("user_id") % 50).alias("host"),
                    "event_id", "ts")
    return web.politeness_schedule(req, "host", "event_id", "ts",
                                   interval_sec=10)


ORACLE_POLITENESS_SCHEDULE = """
WITH base AS (
  SELECT user_id % 50 AS host, event_id, epoch_us(ts) AS arrival_us,
    (row_number() OVER (PARTITION BY user_id % 50
                        ORDER BY epoch_us(ts), event_id)
     - 1)::BIGINT AS position
  FROM events
  -- NULL-arrival contract parity: the Spark side try_casts and DROPS
  -- unparseable/NULL arrivals (web.politeness_schedule, streaming
  -- schedule_fetches); events.ts is nullable, so without this filter
  -- one NULL ts in a future testdata regeneration flips both
  -- attestations red. NULL-id contract (r8 advice): the id is the
  -- arrival-order tie-break and Spark sorts NULLs FIRST where DuckDB
  -- sorts them LAST — an unaddressable request has no position.
  WHERE ts IS NOT NULL AND event_id IS NOT NULL)
SELECT host, event_id, arrival_us,
  (position * 10000000 + max(arrival_us - position * 10000000) OVER
     (PARTITION BY host ORDER BY arrival_us, event_id
      ROWS UNBOUNDED PRECEDING))::BIGINT AS sched_us,
  (position * 10000000 + max(arrival_us - position * 10000000) OVER
     (PARTITION BY host ORDER BY arrival_us, event_id
      ROWS UNBOUNDED PRECEDING) - arrival_us)::BIGINT AS wait_us,
  position
FROM base
"""


# Parquet sinks of prior q_schedule_fetches_stream passes, swept by the
# next invocation (only the newest may still back a live DataFrame).
_SCHED_STREAM_SINKS: list = []


def q_schedule_fetches_stream(spark, sf):
    """STATEFUL STREAMING politeness scheduler end-to-end
    (streaming/raw_zone_stream.py ``schedule_fetches`` — the repo's
    only ``applyInPandasWithState`` operator): the same 50-key fetch
    request feed as ``politeness_schedule``, split into TWO
    arrival-time-range parquet files and replayed one file per
    micro-batch (``maxFilesPerTrigger=1`` + ``availableNow``), so the
    (last_sched_us, position) state must carry the politeness contract
    ACROSS the micro-batch boundary. ONE boundary proves the
    cross-batch property — the r12 bench showed the 4-batch replay was
    job-launch-latency-bound (driver ratio 2.98), pure micro-batch
    startup overhead, so r13 halves it; the multi-boundary regime
    stays covered by ``tests/test_streaming.py``'s 3-batch unit
    fixture. The time-range split makes arrivals batch-monotone per
    key, which is exactly the regime where the streaming recurrence
    equals the batch closed form — hence the SQL twin is the same
    running-max window as ``politeness_schedule``'s, and a
    state-handling bug (dropped position, stale last_sched) breaks
    the hash, not just a unit test.

    Harness note (r8 verdict #2): the stream lands in a per-run
    PARQUET sink read back distributed — rows never route through the
    driver (the earlier memory-sink + ``collect`` + ``createDataFrame``
    hop put corpus-width rows on the driver AND into the bench
    timing). The sink dir must outlive this call (the caller evaluates
    the returned DataFrame), so only the MOST RECENT sink stays alive:
    each invocation sweeps its predecessors (ADVICE r9: atexit-only
    cleanup accumulated one dir per pass across a long gate/bench
    session), and process exit sweeps the last one."""
    import atexit
    import shutil
    import tempfile

    from zacks_estimates_financial_statements_spark.streaming.raw_zone_stream import (
        schedule_fetches,
    )

    ev = _t(spark, sf, "events")
    req = ev.select((F.col("user_id") % 50).alias("host"),
                    "event_id", F.col("ts").cast("string").alias("ts"))
    # the median boundary via ONE bounded agg (no global-sort window);
    # half-open ranges keep equal arrivals in one batch file
    qs = req.select(F.unix_micros(F.col("ts").try_cast("timestamp"))
                    .alias("us"))
    b1 = qs.agg(F.percentile_approx("us", 0.5, 10000)
                .alias("b")).collect()[0]["b"]
    root = tempfile.mkdtemp(prefix="sched_stream_")
    try:
        src = os.path.join(root, "src")
        os.makedirs(src)
        us = F.unix_micros(F.col("ts").try_cast("timestamp"))
        cuts = [None, b1, None]
        for i in range(2):
            part = req
            if cuts[i] is not None:
                part = part.filter(us >= cuts[i])
            if cuts[i + 1] is not None:
                part = part.filter(us < cuts[i + 1])
            stage = os.path.join(root, f"stage{i}")
            part.coalesce(1).write.parquet(stage)
            pf = next(f for f in os.listdir(stage)
                      if f.endswith(".parquet"))
            dst = os.path.join(src, f"{i:02d}.parquet")
            os.rename(os.path.join(stage, pf), dst)
            # file source orders batches by modification time: pin it
            # so batch i replays strictly before batch i+1
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        stream = (spark.readStream.schema("host bigint, event_id bigint, "
                                          "ts string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src))
        out = schedule_fetches(stream, "host", "event_id", "ts",
                               interval_sec=10.0)
        while _SCHED_STREAM_SINKS:  # prior passes' sinks are dead now
            shutil.rmtree(_SCHED_STREAM_SINKS.pop(), ignore_errors=True)
        sink = tempfile.mkdtemp(prefix="sched_stream_out_")
        _SCHED_STREAM_SINKS.append(sink)
        atexit.register(shutil.rmtree, sink, ignore_errors=True)
        q = (out.writeStream.format("parquet")
             .option("path", sink)
             .option("checkpointLocation", os.path.join(root, "ckpt"))
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        # explicit schema: a zero-row stream leaves only _spark_metadata
        return spark.read.schema(
            "host bigint, event_id bigint, arrival_us bigint, "
            "sched_us bigint, wait_us bigint, position bigint"
        ).parquet(sink)
    finally:
        shutil.rmtree(root, ignore_errors=True)


ORACLE_SCHEDULE_FETCHES_STREAM = ORACLE_POLITENESS_SCHEDULE


def q_registrable_domain(spark, sf):
    """PSL registrable-domain extraction (functions/web.py
    ``registrable_domain``): synthesized 3/4-label hosts against a
    3-entry suffix list exercising longest-match, fallback-TLD and
    both label depths; oracle derives everything from the synthesis
    arithmetic."""
    docs = _t(spark, sf, "documents")
    # NULL contract: synthesized per-doc inputs need an id (NULL
    # null-propagates every doc_id-derived expression)
    docs = docs.filter(F.col("doc_id").isNotNull())
    d = F.col("doc_id")
    url = F.concat(F.lit("https://h"), (d % 7).cast("string"),
                   F.when(d % 2 == 0, F.lit(".site")).otherwise(F.lit("")),
                   F.lit(".ex"), (d % 3).cast("string"),
                   F.lit(".org/p"))
    sfx = spark.createDataFrame([("org",), ("ex1.org",), ("ex2.org",)],
                                "suffix string")
    return web.registrable_domain(docs.select("doc_id", url.alias("u")),
                                  "doc_id", "u", sfx)


ORACLE_REGISTRABLE_DOMAIN = """
WITH base AS (
  SELECT doc_id,
    'https://h' || (doc_id % 7)
      || CASE WHEN doc_id % 2 = 0 THEN '.site' ELSE '' END
      || '.ex' || (doc_id % 3) || '.org/p' AS url,
    'h' || (doc_id % 7)
      || CASE WHEN doc_id % 2 = 0 THEN '.site' ELSE '' END
      || '.ex' || (doc_id % 3) || '.org' AS host
  -- NULL contract: NULL doc_id null-propagates the synthesized URL
  FROM documents WHERE doc_id IS NOT NULL)
SELECT doc_id, url, host,
  -- r12 extreme dial: a NEGATIVE id mints 'ex-1.org'/'ex-2.org'
  -- labels that are NOT in the 3-entry suffix list, so the match
  -- falls back to 'org' exactly like the d%3=0 branch
  CASE WHEN doc_id % 3 IN (1, 2) THEN 'ex' || (doc_id % 3) || '.org'
       ELSE 'org' END AS public_suffix,
  CASE WHEN doc_id % 3 NOT IN (1, 2)
         THEN 'ex' || (doc_id % 3) || '.org'
       WHEN doc_id % 2 = 0 THEN 'site.ex' || (doc_id % 3) || '.org'
       ELSE 'h' || (doc_id % 7) || '.ex' || (doc_id % 3) || '.org'
  END AS registrable
FROM base
"""


def q_corpus_diff(spark, sf):
    """Snapshot CDC (operators/curation.py ``corpus_diff``): a new
    corpus version synthesized from the old — d%11 removed, d%7
    changed (text suffix), d%13 cloned under id+10000 (added) — and
    diffed by normalized fingerprints; one full-outer id join, text
    never shuffles."""
    docs = _t(spark, sf, "documents")
    # NULL contract: synthesized per-doc inputs need an id (NULL
    # null-propagates every doc_id-derived expression)
    docs = docs.filter(F.col("doc_id").isNotNull())
    d = F.col("doc_id")
    survivors = docs.filter(d % 11 != 0).select(
        "doc_id",
        F.when(d % 7 == 0, F.concat(F.col("text"), F.lit(" changed")))
        .otherwise(F.col("text")).alias("text"))
    added = docs.filter(d % 13 == 0).select(
        (d + 10000).alias("doc_id"), "text")
    new = survivors.unionByName(added)
    return curation.corpus_diff(docs, new, "doc_id", "text")


ORACLE_CORPUS_DIFF = """
WITH fp AS (
  -- duplicate-id contract (corpus_diff, r10): one status per id per
  -- side — each side reduces to its per-id MIN fingerprint over all
  -- physical versions (the operator's groupBy(id).min(fp)); verbatim
  -- copies collapse for free, conflicting copies deterministically
  SELECT doc_id,
    min(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
      AS f,
    min(md5(trim(regexp_replace(lower(text || ' changed'),
                                '[^a-z0-9]+', ' ', 'g')))) AS fc
  FROM documents WHERE doc_id IS NOT NULL GROUP BY doc_id)
SELECT doc_id,
  -- NULL-text survivors: appending ' changed' to NULL text yields the
  -- same NULL fingerprint, so the content is (absently) unchanged —
  -- the IS DISTINCT FROM mirrors the operator's null-safe compare
  CASE WHEN doc_id % 11 = 0 THEN 'removed'
       WHEN doc_id % 7 = 0 AND f IS DISTINCT FROM fc THEN 'changed'
       ELSE 'unchanged' END AS status,
  f AS old_fp,
  CASE WHEN doc_id % 11 = 0 THEN NULL
       WHEN doc_id % 7 = 0 THEN fc ELSE f END AS new_fp
FROM fp
UNION ALL
SELECT doc_id + 10000 AS doc_id, 'added' AS status,
  NULL AS old_fp, f AS new_fp
FROM fp WHERE doc_id % 13 = 0
"""


def q_split_sentences(spark, sf):
    """Sentence segmentation (functions/text.py ``split_sentences``):
    terminal-punct runs synthesized onto the word soup; two-phase
    mark-and-split (RE2 has no lookbehind) shared with the twin;
    zero-shuffle explode."""
    docs = _t(spark, sf, "documents")
    text2 = F.concat(F.lit("One two three. Four five! Six?   "),
                     F.substring(F.col("text"), 1, 30))
    return T.split_sentences(docs.select("doc_id", text2.alias("t")),
                             "doc_id", "t")


ORACLE_SPLIT_SENTENCES = """
WITH base AS (
  SELECT doc_id,
    'One two three. Four five! Six?   ' || substr(text, 1, 30) AS t
  FROM documents),
marked AS (
  SELECT doc_id,
    string_split(regexp_replace(t, '([.!?]+)[ \t\n\x0b\f\r]+',
                                '\\1' || chr(9247), 'g'),
                 chr(9247)) AS parts
  FROM base),
ex AS (
  SELECT doc_id, r.i AS i0, trim(parts[r.i]) AS sentence
  FROM marked, unnest(range(1, len(parts) + 1)) AS r(i))
SELECT doc_id, i0::BIGINT AS sent_idx, sentence,
  len(regexp_extract_all(lower(sentence), '[a-z0-9_]+'))::BIGINT
    AS n_words
FROM ex WHERE sentence <> ''
"""


def q_robots_check(spark, sf):
    """robots.txt parse + allow evaluation (functions/web.py
    ``parse_robots`` + ``robots_allowed``, RFC 9309 literal-prefix
    subset): 5 synthesized hosts — even ones carry an exact `badbot`
    group that must EXCLUDE the `*` group — against 4 path shapes;
    the oracle derives every verdict from the synthesis arithmetic."""
    star = ("User-agent: *\nDisallow: /private\n"
            "Allow: /private/ok\n")
    bad = star + "\nUser-agent: badbot\nDisallow: /\nAllow: /pub\n"
    files = spark.createDataFrame(
        [(f"h{k}.org", bad if k % 2 == 0 else star) for k in range(5)],
        "host string, robots string")
    docs = _t(spark, sf, "documents")
    # NULL contract: synthesized per-doc inputs need an id (NULL
    # null-propagates every doc_id-derived expression)
    docs = docs.filter(F.col("doc_id").isNotNull())
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (d % 5).cast("string"), F.lit(".org"),
        F.when(d % 4 == 0, F.concat(F.lit("/private/doc"),
                                    d.cast("string")))
        .when(d % 4 == 1, F.concat(F.lit("/private/ok/"),
                                   d.cast("string")))
        .when(d % 4 == 2, F.concat(F.lit("/pub/"), d.cast("string")))
        .otherwise(F.lit("/")))
    rules = web.parse_robots(files, "host", "robots")
    return web.robots_allowed(docs.select("doc_id", url.alias("u")),
                              rules, "doc_id", "u", agent="badbot")


ORACLE_ROBOTS_CHECK = """
WITH base AS (
  SELECT doc_id, doc_id % 5 AS k, doc_id % 4 AS p,
    CASE WHEN doc_id % 4 = 0 THEN '/private/doc' || doc_id
         WHEN doc_id % 4 = 1 THEN '/private/ok/' || doc_id
         WHEN doc_id % 4 = 2 THEN '/pub/' || doc_id
         ELSE '/' END AS path
  FROM documents WHERE doc_id IS NOT NULL)
SELECT doc_id,
  'https://h' || k || '.org' ||
    CASE WHEN p = 3 THEN '/' ELSE path END AS url,
  'h' || k || '.org' AS host, path,
  -- r12 extreme dial: a negative id mints host 'h-1.org' etc., which
  -- has NO robots file (rules cover h0..h4 only) → default-allow with
  -- NULL matched_prefix, same as the Spark no-rules path. Negative p
  -- (path '/') on a rule-carrying host matches like p=3.
  CASE WHEN k NOT BETWEEN 0 AND 4 THEN true
       WHEN k % 2 = 0 THEN (p = 2)
       ELSE (p = 1 OR p = 2 OR NOT p BETWEEN 0 AND 2) END AS allowed,
  CASE WHEN k NOT BETWEEN 0 AND 4 THEN NULL
       WHEN k % 2 = 0 THEN
         CASE WHEN p = 2 THEN '/pub' ELSE '/' END
       ELSE CASE WHEN p = 0 THEN '/private'
                 WHEN p = 1 THEN '/private/ok' END
  END AS matched_prefix
FROM base
"""


def q_normalize_punct(spark, sf):
    """Typographic normalization (functions/text.py
    ``normalize_punct``): curly quotes/dashes/NBSP/bullets folded,
    ellipsis + ligatures expanded — on punct-seeded text; the oracle
    embeds the module's own fold tables so literals cannot drift."""
    docs = _t(spark, sf, "documents")
    seed = ("\u201cQuoted\u201d \u2014 it\u2019s na\u00efve\u2026 "
            "\ufb01ne \u00e6on\u00a0end ")
    return docs.select(
        "doc_id",
        T.normalize_punct(F.concat(F.lit(seed),
                                   F.substring("text", 1, 40)))
        .alias("clean"))


def _oracle_normalize_punct() -> str:
    frm = T.PUNCT_FOLD_FROM.replace("'", "''")
    to = T.PUNCT_FOLD_TO.replace("'", "''")
    seed = ("\u201cQuoted\u201d \u2014 it\u2019s na\u00efve\u2026 "
            "\ufb01ne \u00e6on\u00a0end ")
    expr = f"translate('{seed}' || substr(text, 1, 40), '{frm}', '{to}')"
    for a, b in T.PUNCT_EXPANSIONS:
        expr = f"replace({expr}, '{a}', '{b}')"
    return f"SELECT doc_id, {expr} AS clean FROM documents"


def q_mojibake(spark, sf):
    """Encoding-damage panel (functions/text.py ``mojibake_stats``):
    mojibake artifacts seeded by doc_id arithmetic (mangled 2-byte
    sequences, â-euro punctuation triples, U+FFFD); same literal
    patterns both engines."""
    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    text2 = F.concat(
        F.substring("text", 1, 30),
        F.when(d % 4 == 1, F.lit(" \u00c3\u00a9\u00c3\u00a8"))
        .when(d % 4 == 2, F.lit(" \u00e2\u20ac\u2122 x "
                                "\u00e2\u20ac\u0153"))
        .when(d % 4 == 3, F.lit(" \ufffd\u00c2\u00b7"))
        .otherwise(F.lit(" clean tail")))
    return docs.select("doc_id", *T.mojibake_stats(text2))


ORACLE_MOJIBAKE = """
WITH base AS (
  SELECT doc_id, substr(text, 1, 30) ||
    CASE WHEN doc_id % 4 = 1
         THEN ' ' || chr(195) || chr(169) || chr(195) || chr(168)
         WHEN doc_id % 4 = 2
         THEN ' ' || chr(226) || chr(8364) || chr(8482) || ' x '
              || chr(226) || chr(8364) || chr(339)
         WHEN doc_id % 4 = 3
         THEN ' ' || chr(65533) || chr(194) || chr(183)
         ELSE ' clean tail' END AS t
  FROM documents),
cnt AS (
  SELECT doc_id,
    len(regexp_extract_all(t, chr(65533)))::BIGINT AS n_replacement,
    len(regexp_extract_all(t,
        chr(195) || '[' || chr(128) || '-' || chr(191) || ']'
        || '|' || chr(226) || chr(8364) || '.'
        || '|' || chr(194) || '[' || chr(160) || '-' || chr(191)
        || ']'))::BIGINT AS n_mojibake
  FROM base)
SELECT doc_id, n_replacement, n_mojibake,
  (n_replacement + n_mojibake) > 0 AS mojibake_flag
FROM cnt
"""


def q_epoch_plan(spark, sf):
    """Data-constrained epoch allocation (operators/curation.py
    ``epoch_plan``, Muennighoff'23 regime): water-filling with
    4-epoch caps over a rare/common split (doc_id%13), tau=0.5,
    budget 80k tokens — the rare stratum hits its cap at sf0.01 and
    the freed budget re-spreads; closed form via sorted-ratio prefix
    sums, replayed window-for-window in the twin."""
    docs = _t(spark, sf, "documents")
    strat = docs.withColumn(
        "stratum2",
        F.when(F.col("doc_id") % 13 == 0, F.lit("rare"))
        .otherwise(F.lit("common")))
    return curation.epoch_plan(strat, "stratum2", "text",
                               budget_tokens=80000, max_epochs=4.0,
                               tau=0.5)


ORACLE_EPOCH_PLAN = """
WITH strat AS (
  SELECT CASE WHEN doc_id % 13 = 0 THEN 'rare' ELSE 'common' END
           AS stratum,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                    x -> x <> '')) AS nt
  FROM documents),
per AS (
  SELECT stratum, sum(nt)::BIGINT AS n_tokens FROM strat
  GROUP BY stratum HAVING sum(nt) > 0),
w AS (
  SELECT stratum, n_tokens,
    round(pow(n_tokens::DOUBLE / sum(n_tokens) OVER (), 1.0 / 0.5), 6)
      AS w0
  FROM per),
w2 AS (
  SELECT stratum, n_tokens,
    round(w0 / (sum(w0::DECIMAL(38,6)) OVER ())::DOUBLE, 6) AS weight,
    round(n_tokens * 4.0::DOUBLE, 6) AS cap_tokens
  FROM w),
w3 AS (
  SELECT *, round(cap_tokens / weight, 6) AS r FROM w2),
staged AS (
  SELECT *,
    sum(cap_tokens::DECIMAL(38,6)) OVER
      (ORDER BY r, stratum ROWS UNBOUNDED PRECEDING) AS caps,
    sum(weight::DECIMAL(38,6)) OVER () AS wsum,
    sum(weight::DECIMAL(38,6)) OVER
      (ORDER BY r, stratum ROWS UNBOUNDED PRECEDING) AS wpre,
    lead(r) OVER (ORDER BY r, stratum) AS rnext
  FROM w3),
lam AS (
  SELECT *,
    (wsum - wpre)::DOUBLE AS wrest,
    CASE WHEN (wsum - wpre)::DOUBLE > 0 THEN
      round((80000.0 - caps::DOUBLE) / (wsum - wpre)::DOUBLE, 6)
    END AS lam_k
  FROM staged),
fin AS (
  SELECT *,
    max(CASE WHEN r <= lam_k AND coalesce(rnext > lam_k, TRUE)
             THEN lam_k END) OVER () AS lam_sel,
    min(r) OVER () AS minr,
    round(80000.0 / wsum::DOUBLE, 6) AS lam0
  FROM lam),
alloc AS (
  SELECT stratum, n_tokens, weight, cap_tokens,
    CASE WHEN coalesce(CASE WHEN minr > lam0 THEN lam0 END,
                       lam_sel) IS NULL
         THEN cap_tokens
         ELSE round(least(cap_tokens,
                          coalesce(CASE WHEN minr > lam0 THEN lam0 END,
                                   lam_sel) * weight), 6) END
      AS alloc_tokens
  FROM fin)
SELECT stratum, n_tokens, weight, cap_tokens, alloc_tokens,
  round(alloc_tokens / n_tokens, 6) AS epochs,
  alloc_tokens >= cap_tokens AS capped
FROM alloc
"""


def q_code_score(spark, sf):
    """Code-vs-prose routing panel (functions/text.py ``code_score``):
    a code block appended to every third doc, prose to the rest; the
    oracle runs the identical regex counts. Zero-shuffle."""
    docs = _t(spark, sf, "documents")
    # NULL contract: synthesized per-doc inputs need an id (NULL
    # null-propagates every doc_id-derived expression)
    docs = docs.filter(F.col("doc_id").isNotNull())
    d = F.col("doc_id")
    code_tail = ("\ndef calc(x):\n  y = x + 1;\n  while y: y = y - 2;"
                 "\n  return y;")
    prose_tail = "\nPlain prose continues without any markers here."
    text2 = F.concat(F.col("text"),
                     F.when(d % 3 == 0, F.lit(code_tail))
                     .otherwise(F.lit(prose_tail)))
    return docs.select("doc_id", *T.code_score(text2))


ORACLE_CODE_SCORE = """
WITH base AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 3 = 0
    THEN chr(10) || 'def calc(x):' || chr(10) || '  y = x + 1;'
         || chr(10) || '  while y: y = y - 2;' || chr(10)
         || '  return y;'
    ELSE chr(10) || 'Plain prose continues without any markers here.'
    END AS t
  FROM documents WHERE doc_id IS NOT NULL),
cnt AS (
  SELECT doc_id,
    len(regexp_extract_all(t, '[{};]'))::BIGINT AS n_braces,
    len(regexp_extract_all(lower(t),
      '(^|[^a-z0-9_])(def|return|import|function|var|const|if|else|for|while|class|void|int|public)($|[^a-z0-9_])'
      ))::BIGINT AS n_keywords,
    len(regexp_extract_all(t, '(?m)^(  |' || chr(9) || ')'))::BIGINT
      AS n_indented_lines,
    len(regexp_extract_all(t,
      '[a-zA-Z0-9_\\]\\)] ?=[^=]'))::BIGINT AS n_assign,
    len(string_split(t, chr(10)))::BIGINT AS n_lines,
    length(t) AS tl
  FROM base)
SELECT doc_id, n_braces, n_keywords, n_indented_lines, n_assign,
  n_lines,
  CASE WHEN tl > 0 THEN round(
    (least(1.0::DOUBLE, n_braces::DOUBLE / greatest(n_lines, 1))
     + least(1.0::DOUBLE, n_keywords::DOUBLE / greatest(n_lines, 1))
     + least(1.0::DOUBLE, n_indented_lines::DOUBLE
             / greatest(n_lines, 1))
     + least(1.0::DOUBLE, n_assign::DOUBLE / greatest(n_lines, 1)))
    / 4.0, 6) END AS code_score
FROM cnt
"""


def q_url_features(spark, sf):
    """Crawl-frontier URL features (functions/web.py
    ``url_features``): four path shapes by doc_id arithmetic (root,
    deep trailing-slash, id-segment with query, empty); the oracle
    computes the same features from the same synthesized parts."""
    docs = _t(spark, sf, "documents")
    # NULL contract: synthesized per-doc inputs need an id (NULL
    # null-propagates every doc_id-derived expression)
    docs = docs.filter(F.col("doc_id").isNotNull())
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (d % 7).cast("string"), F.lit(".org"),
        F.when(d % 4 == 0, F.lit("/"))
        .when(d % 4 == 1, F.concat(F.lit("/a/b/"), d.cast("string"),
                                   F.lit("/")))
        .when(d % 4 == 2, F.concat(F.lit("/p"), d.cast("string"),
                                   F.lit("/x?a=1&b=2")))
        .otherwise(F.lit("")))
    return web.url_features(docs.select("doc_id", url.alias("u")),
                            "doc_id", "u")


ORACLE_URL_FEATURES = """
WITH parts AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN '/'
         WHEN doc_id % 4 = 1 THEN '/a/b/' || doc_id || '/'
         WHEN doc_id % 4 = 2 THEN '/p' || doc_id || '/x'
         ELSE '' END AS path,
    CASE WHEN doc_id % 4 = 2 THEN 'a=1&b=2' ELSE '' END AS q
  FROM documents WHERE doc_id IS NOT NULL)
SELECT doc_id,
  'https://h' || (doc_id % 7) || '.org' || path ||
    CASE WHEN q <> '' THEN '?' || q ELSE '' END AS url,
  'h' || (doc_id % 7) || '.org' AS host,
  len(list_filter(string_split(path, '/'), s -> s <> ''))::BIGINT
    AS depth,
  (CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END)::BIGINT
    AS n_params,
  length(path)::BIGINT AS path_len,
  CASE WHEN length(path) > 0 THEN
    round(length(regexp_replace(path, '[^0-9]', '', 'g'))::DOUBLE
          / length(path), 6) END AS digit_frac,
  (path = '' OR path = '/' OR path LIKE '%/') AS is_index
FROM parts
"""


def q_script_profile(spark, sf):
    """Unicode-script mix panel (functions/text.py
    ``script_profile``): script runs appended by doc_id arithmetic so
    every block counter fires on a known subset; zero-shuffle
    projection with RE2∩Java-identical code-point classes."""
    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    text2 = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.lit(" Привет"
                                 " мир"))
        .when(d % 3 == 1, F.lit(" 日本語テキ"
                                "スト"))
        .otherwise(F.lit(" مرحبا")))
    return docs.select("doc_id", *T.script_profile(text2))


ORACLE_SCRIPT_PROFILE = """
WITH base AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 3 = 0
         THEN ' \u041f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440'
         WHEN doc_id % 3 = 1
         THEN ' \u65e5\u672c\u8a9e\u30c6\u30ad\u30b9\u30c8'
         ELSE ' \u0645\u0631\u062d\u0628\u0627' END AS t
  FROM documents),
cnt AS (
  SELECT doc_id,
    len(regexp_extract_all(t,
        '[A-Za-z\u00c0-\u00d6\u00d8-\u00f6\u00f8-\u024f]'))::BIGINT
      AS n_latin,
    len(regexp_extract_all(t, '[\u0400-\u04ff]'))::BIGINT
      AS n_cyrillic,
    len(regexp_extract_all(t, '[\u0370-\u03ff]'))::BIGINT AS n_greek,
    len(regexp_extract_all(t, '[\u0600-\u06ff]'))::BIGINT AS n_arabic,
    len(regexp_extract_all(t,
        '[\u4e00-\u9fff\u3040-\u30ff]'))::BIGINT AS n_cjk,
    len(regexp_extract_all(t,
        '[\uac00-\ud7af\u1100-\u11ff]'))::BIGINT AS n_hangul
  FROM base)
SELECT doc_id,
  (n_latin + n_cyrillic + n_greek + n_arabic + n_cjk + n_hangul)
    AS n_letters,
  n_latin, n_cyrillic, n_greek, n_arabic, n_cjk, n_hangul,
  CASE WHEN (n_latin + n_cyrillic + n_greek + n_arabic + n_cjk
             + n_hangul) > 0 THEN
    round(n_latin::DOUBLE / (n_latin + n_cyrillic + n_greek + n_arabic
                             + n_cjk + n_hangul), 6) END AS latin_share,
  CASE WHEN (n_latin + n_cyrillic + n_greek + n_arabic + n_cjk
             + n_hangul) > 0 THEN
    round(n_cjk::DOUBLE / (n_latin + n_cyrillic + n_greek + n_arabic
                           + n_cjk + n_hangul), 6) END AS cjk_share
FROM cnt
"""


def q_k_anonymity(spark, sf):
    """k-anonymity audit (operators/profiling.py ``k_anonymity``,
    Sweeney 2002): (lang, source, 100-char length bucket) as
    quasi-identifiers with a NULL-lang slice (doc_id%17) proving the
    null-safe join keeps NULL classes; one map-side groupBy + one
    <=>-keyed join back."""
    from zacks_estimates_financial_statements_spark.operators import profiling
    docs = _t(spark, sf, "documents")
    base = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 17 != 0, F.col("lang")).alias("lang2"),
        "source",
        # integer DIV, not floor(x/100.0): double division loses
        # precision above 2^53 and floors negatives differently than
        # DuckDB's trunc-toward-zero // (r12 extreme dial)
        F.expr("n_chars DIV 100").alias("len_bucket"))
    return profiling.k_anonymity(base, ["lang2", "source", "len_bucket"],
                                 k=5)


ORACLE_K_ANONYMITY = """
WITH base AS (
  SELECT doc_id,
    CASE WHEN doc_id % 17 <> 0 THEN lang END AS lang2, source,
    (n_chars // 100)::BIGINT AS len_bucket
  FROM documents),
sizes AS (
  SELECT lang2, source, len_bucket, count(*)::BIGINT AS class_size
  FROM base GROUP BY lang2, source, len_bucket)
SELECT b.doc_id, b.lang2, b.source, b.len_bucket, s.class_size,
  s.class_size >= 5 AS k_anonymous
FROM base b JOIN sizes s
  ON b.lang2 IS NOT DISTINCT FROM s.lang2
  AND b.source IS NOT DISTINCT FROM s.source
  AND b.len_bucket IS NOT DISTINCT FROM s.len_bucket
"""


def q_ngram_diversity(spark, sf):
    """Distinct-n diversity (operators/curation.py ``ngram_diversity``,
    Li et al. NAACL'16): per-language distinct-1/2/3 ratios; gram
    explodes + ONE two-phase (stratum, n) distinct aggregation."""
    docs = _t(spark, sf, "documents")
    return curation.ngram_diversity(docs, "doc_id", "text", "lang",
                                    ns=(1, 2, 3))


ORACLE_NGRAM_DIVERSITY = """
WITH toks AS (
  SELECT lang,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
g AS (
  SELECT lang, nn.n, array_to_string(t[r.i:r.i + nn.n - 1], ' ') AS g
  FROM toks, (VALUES (1), (2), (3)) AS nn(n),
       unnest(range(1, len(t) - nn.n + 2)) AS r(i)
  WHERE len(t) >= nn.n)
SELECT lang AS stratum, n, count(*)::BIGINT AS total_grams,
  count(DISTINCT g)::BIGINT AS distinct_grams,
  round(count(DISTINCT g)::DOUBLE / count(*), 6) AS ratio
FROM g GROUP BY lang, n
"""


def q_novelty_score(spark, sf):
    """Per-document novelty vs a reference corpus
    (operators/curation.py ``novelty_score``): fraction of each doc's
    distinct 3-grams unseen in the doc_id%3=0 reference slice; one
    LEFT ANTI gram equi-join, no broadcast assumption."""
    docs = _t(spark, sf, "documents")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    return curation.novelty_score(docs, ref, "doc_id", "text", n=3)


ORACLE_NOVELTY_SCORE = """
WITH toks0 AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  -- NULL contract (novelty_score): NULL-id rows are unaddressable and
  -- excluded; NULL-text docs stay with n_grams 0 / NULL novelty
  FROM documents WHERE doc_id IS NOT NULL),
-- duplicate-id contract (r10): the per-id panel scores the
-- min-md5(token-string) WINNER version ('zz' sentinel keeps all-NULL
-- docs addressable); the reference gram SET still unions every
-- physical version (a gram "occurs in the reference" if any copy has
-- it — mirrors the operator, whose reference side is never deduped)
vers AS (SELECT DISTINCT doc_id, t,
           coalesce(md5(array_to_string(t, ' ')), 'zz') AS fp
         FROM toks0),
win AS (SELECT doc_id, min(fp) AS fp FROM vers GROUP BY doc_id),
toks AS (SELECT doc_id, t FROM vers JOIN win USING (doc_id, fp)),
dg AS (
  SELECT DISTINCT doc_id, array_to_string(t[r.i:r.i + 2], ' ') AS g
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3),
refg AS (
  SELECT DISTINCT array_to_string(t[r.i:r.i + 2], ' ') AS g
  FROM toks0, unnest(range(1, len(t) - 1)) AS r(i)
  WHERE len(t) >= 3 AND doc_id % 3 = 0),
tot AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams FROM dg GROUP BY doc_id),
nov AS (
  SELECT doc_id, count(*)::BIGINT AS n_novel FROM dg
  WHERE NOT EXISTS (SELECT 1 FROM refg WHERE refg.g = dg.g)
  GROUP BY doc_id)
SELECT t.doc_id, coalesce(d.n_grams, 0)::BIGINT AS n_grams,
  coalesce(v.n_novel, 0)::BIGINT AS n_novel,
  CASE WHEN coalesce(d.n_grams, 0) > 0 THEN
    round(coalesce(v.n_novel, 0)::DOUBLE / d.n_grams, 6) END AS novelty
-- duplicate-id contract (novelty_score): one row per logical doc,
-- per-id distinct gram counts (dg is DISTINCT already)
FROM (SELECT DISTINCT doc_id FROM toks) t
LEFT JOIN tot d USING (doc_id)
LEFT JOIN nov v USING (doc_id)
"""


def q_ascii_fold(spark, sf):
    """Diacritic folding (functions/text.py ``ascii_fold``): the
    NFKD-derived 162-pair translate table applied to accent-seeded
    text; ß stays (fold, not transliteration). Zero-shuffle codegen
    projection; the oracle embeds the IDENTICAL table literals."""
    docs = _t(spark, sf, "documents")
    text2 = F.concat(F.lit("Cr\u00e8me Br\u00fbl\u00e9e \u00c0 LA "
                           "\u00d1A\u00d1A \u00fcberm\u00e4\u00dfig "),
                     F.col("text"))
    return docs.select("doc_id", T.ascii_fold(text2).alias("folded"))


def _oracle_ascii_fold() -> str:
    frm = T.ASCII_FOLD_FROM.replace("'", "''")
    to = T.ASCII_FOLD_TO
    pre = ("Cr\u00e8me Br\u00fbl\u00e9e \u00c0 LA \u00d1A\u00d1A "
           "\u00fcberm\u00e4\u00dfig ")
    return (f"SELECT doc_id, translate('{pre}' || text, '{frm}', "
            f"'{to}') AS folded FROM documents")


def q_readability(spark, sf):
    """Flesch readability panel (functions/text.py
    ``readability_scores``): sentence runs synthesized onto the word
    soup so the [.!?]-run counter has work; zero-shuffle projection."""
    docs = _t(spark, sf, "documents")
    text2 = F.concat(F.col("text"),
                     F.lit(". Second tiny sentence! A third one?"))
    return docs.select("doc_id", *T.readability_scores(text2))


ORACLE_READABILITY = """
WITH base AS (
  SELECT doc_id,
    text || '. Second tiny sentence! A third one?' AS t
  FROM documents),
cnt AS (
  SELECT doc_id,
    len(regexp_extract_all(lower(t), '[a-z0-9_]+'))::BIGINT AS n_words,
    len(regexp_extract_all(t, '[.!?]+')) AS sents_raw,
    len(regexp_extract_all(lower(t), '[aeiouy]+'))::BIGINT
      AS n_syllables
  FROM base)
SELECT doc_id, n_words,
  CASE WHEN n_words > 0 THEN greatest(sents_raw, 1) END::BIGINT
    AS n_sents,
  n_syllables,
  CASE WHEN n_words > 0 THEN round(
    206.835 - 1.015 * (n_words::DOUBLE / greatest(sents_raw, 1))
    - 84.6 * (n_syllables::DOUBLE / n_words), 6) END AS flesch_ease,
  CASE WHEN n_words > 0 THEN round(
    0.39 * (n_words::DOUBLE / greatest(sents_raw, 1))
    + 11.8 * (n_syllables::DOUBLE / n_words) - 15.59, 6) END
    AS fk_grade
FROM cnt
"""


def q_embedding_diversity(spark, sf):
    """Moments-identity diversity audit (operators/profiling.py
    ``embedding_diversity``): mean pairwise squared L2 per stratum
    WITHOUT any pair join — E|x−y|² = 2·n/(n−1)·(mean|x|² − |μ|²);
    one (stratum, dim) map-side-combined agg + a |strata|-row
    roll-up."""
    from zacks_estimates_financial_statements_spark.operators import profiling
    emb = _emb(spark, sf)
    base = emb.select((F.col("vec_id") % 5).cast("string").alias("g"),
                      "embedding")
    return profiling.embedding_diversity(base, "embedding", "g")


# exact-aggregation domain guards (r12 extreme dial): mirror of
# profiling's dec6 on the per-dim sums and the squared-centroid term
ORACLE_EMBEDDING_DIVERSITY = f"""
WITH base AS (
  SELECT (vec_id % 5)::VARCHAR AS stratum, embedding FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) embeddings),
counts AS (
  SELECT stratum, count(*)::BIGINT AS n FROM base GROUP BY stratum),
ex AS (
  SELECT stratum, u.i AS d,
    round(embedding[u.i]::DOUBLE, 6) AS x6
  FROM base, unnest(range(1, len(embedding) + 1)) AS u(i)),
per_dim AS (
  SELECT stratum, d, sum({_decg('x6')}) AS s1,
    sum({_decg('round(x6 * x6, 6)')}) AS s2
  FROM ex GROUP BY stratum, d),
rolled AS (
  SELECT p.stratum, c.n,
    round(sum(p.s2)::DOUBLE / c.n, 6) AS mean_norm_sq,
    round(sum({_decg('round(pow(round(p.s1::DOUBLE / c.n, 6), 2), 6)')})::DOUBLE, 6) AS centroid_norm_sq
  FROM per_dim p JOIN counts c USING (stratum)
  GROUP BY p.stratum, c.n)
SELECT stratum, n, mean_norm_sq, centroid_norm_sq,
  CASE WHEN n >= 2 THEN round(2.0 * (mean_norm_sq - centroid_norm_sq)
                              * n / (n - 1), 6) END AS mean_pairwise_sq
FROM rolled
"""


def q_calibration_bins(spark, sf):
    """Reliability-diagram binning (operators/curation.py
    ``calibration_bins``, Guo et al. ICML'17): synthesized scores
    ``((doc_id·37) % 101)/100`` and labels ``doc_id % 3 = 0`` — known
    arithmetic on both sides; ONE ≤n_bins-group map-side-combined
    aggregation."""
    docs = _t(spark, sf, "documents")
    # NULL contract: a NULL id has no synthesized score/label -- excluded
    docs = docs.filter(F.col("doc_id").isNotNull())
    d = F.col("doc_id")
    # overflow contract (r12): pmod-reduce before *37 (same values for
    # canonical non-negative ids, no LONG_MAX*37 abort)
    scored = docs.select(
        ((F.pmod(d, F.lit(101)) * 37 % 101).cast("double") / 100.0)
        .alias("score"),
        (F.pmod(d, F.lit(3)) == 0).alias("label"))
    return curation.calibration_bins(scored, "score", "label",
                                     n_bins=10)


ORACLE_CALIBRATION_BINS = """
WITH scored AS (
  -- pmod-reduced mixing, mirror of the Spark side (r12 overflow)
  SELECT (((doc_id % 101 + 101) % 101) * 37 % 101)::DOUBLE / 100.0 AS s,
    CASE WHEN (doc_id % 3 + 3) % 3 = 0 THEN 1 ELSE 0 END AS y
  -- NULL contract: a NULL id synthesizes a NULL score, which cannot be
  -- binned (DuckDB's least() would otherwise dump it into bin 9 while
  -- Spark's label stays NULL) -- excluded on both engines
  FROM documents WHERE doc_id IS NOT NULL),
binned AS (
  SELECT least(floor(s * 10), 9)::BIGINT AS bin,
    round(s, 6)::DECIMAL(38,6) AS s6, y
  FROM scored)
SELECT bin, count(*)::BIGINT AS n,
  round((sum(s6))::DOUBLE / count(*), 6) AS mean_score,
  round(sum(y)::DOUBLE / count(*), 6) AS frac_pos,
  round(round(sum(y)::DOUBLE / count(*), 6)
        - round((sum(s6))::DOUBLE / count(*), 6), 6) AS gap
FROM binned GROUP BY bin
"""


def q_pmi_collocations(spark, sf):
    """PMI collocation mining (operators/curation.py
    ``pmi_collocations``, Church & Hanks CL'90): adjacent-bigram PMI
    over the documents corpus, hapax tail pruned at 5 before the
    vocabulary joins."""
    docs = _t(spark, sf, "documents")
    return curation.pmi_collocations(docs, "doc_id", "text",
                                     min_count=5)


ORACLE_PMI_COLLOCATIONS = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
uni AS (
  SELECT u.w AS w, count(*)::BIGINT AS c
  FROM toks, unnest(t) AS u(w) GROUP BY u.w),
tot AS (
  SELECT sum(coalesce(len(t), 0))::DOUBLE AS T,
         sum(greatest(len(t) - 1, 0))::DOUBLE AS B
  FROM toks),
bi AS (
  SELECT t[r.i] AS w1, t[r.i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2),
bc AS (
  SELECT w1, w2, count(*)::BIGINT AS pair_count
  FROM bi GROUP BY w1, w2 HAVING count(*) >= 5)
SELECT bc.w1, bc.w2, bc.pair_count, u1.c AS w1_count, u2.c AS w2_count,
  round(ln((bc.pair_count::DOUBLE / tot.B)
           / ((u1.c::DOUBLE / tot.T) * (u2.c::DOUBLE / tot.T))), 6)
    AS pmi
FROM bc, tot
JOIN uni u1 ON bc.w1 = u1.w
JOIN uni u2 ON bc.w2 = u2.w
"""


def q_phrase_search(spark, sf):
    """Positional exact-phrase search (operators/retrieval.py
    ``phrase_search``): every occurrence of the repeated-term phrase
    "table table" — one broadcast (term, offset) join votes candidate
    starts, a start wins with all votes; only phrase-term hits reach
    the shuffle."""
    from zacks_estimates_financial_statements_spark.operators import retrieval

    docs = _t(spark, sf, "documents")
    return retrieval.phrase_search(docs, "doc_id", "text",
                                   ["table", "table"])


ORACLE_PHRASE_SEARCH = """
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM documents),
pos AS (
  SELECT doc_id, r.i AS p, t[r.i] AS tok
  FROM toks, unnest(range(1, len(t) + 1)) AS r(i)),
slots(term, off) AS (VALUES ('table', 0), ('table', 1))
SELECT doc_id, (p - off)::BIGINT AS match_pos
FROM pos JOIN slots ON pos.tok = slots.term
GROUP BY doc_id, p - off
HAVING count(*) = 2 AND p - off >= 1
"""


def q_asof_join(spark, sf):
    """Distributed as-of join (operators/temporal.py): attach to every
    non-purchase event the same user's latest purchase at-or-before it.
    Union-merge plan — ONE shuffle on the key, zero row amplification —
    vs DuckDB's native ASOF JOIN as the oracle twin. The purchase side
    is pre-aggregated per (user, ts) because duplicate right timestamps
    make "the" as-of row undefined in every engine."""
    ev = _t(spark, sf, "events")
    # NULL contract: an as-of join needs a key and a time on both
    # sides — NULL user_id/ts rows are excluded (oracle twin matches)
    ev = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("last_purchase_value")))
    left = (ev.filter(F.col("event_type") != "purchase")
            .select("event_id", "user_id", "ts", "event_type"))
    out = temporal.asof_join(left, purchases, "user_id", "ts", "ts",
                             matched_ts_col="last_purchase_ts")
    return out.select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        "event_type", "last_purchase_value",
        F.unix_micros("last_purchase_ts").alias("last_purchase_ts_us"))


ORACLE_ASOF_JOIN = """
-- NULL contract: an as-of join needs a key and a time on both sides;
-- NULL user_id/ts rows are excluded (Spark def filters identically)
WITH purch AS (
  SELECT user_id, ts, max(value) AS last_purchase_value
  FROM events WHERE event_type = 'purchase'
    AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
ev AS (
  SELECT event_id, user_id, ts, event_type FROM events
  WHERE event_type <> 'purchase'
    AND user_id IS NOT NULL AND ts IS NOT NULL)
SELECT ev.event_id, ev.user_id, epoch_us(ev.ts) AS ts_us, ev.event_type,
  p.last_purchase_value, epoch_us(p.ts) AS last_purchase_ts_us
FROM ev ASOF LEFT JOIN purch p
  ON ev.user_id = p.user_id AND ev.ts >= p.ts
"""


def q_media_phash_pairs(spark, sf):
    """Perceptual-hash image dedup (operators/multimodal.py): a
    hash-attestable PPM corpus (``synthesize_hashable_images`` — 8×9
    grayscale, per-pixel md5 bytes, so the dHash grid's NN-resize is
    the identity and every hash bit is the closed-form pixel
    comparison); ids sharing ``doc_id % 40`` are planted
    exact-duplicate images. The pipeline is REAL end to end — PPM
    decode → luma → resize → dHash → pigeonhole-banded hamming
    pairing — and the DuckDB twin predicts every 64-bit hash and every
    surviving pair, so a single wrong decoded byte or banding defect
    flips the value hash."""
    ids = (_t(spark, sf, "documents").filter(F.col("doc_id") < 60)
           .select("doc_id"))
    keyed = ids.select(F.col("doc_id").alias("media_id"),
                       (F.col("doc_id") % 40).alias("content_key"))
    media = multimodal.synthesize_hashable_images(keyed)
    return multimodal.media_near_dup_pairs(media, max_hamming=4)


#: closed-form dHash of the synthesize_hashable_images corpus, keyed by
#: content key: pixel (r,c) = first md5 byte of 'key:r:c'; bit (r,c) =
#: pix(r,c) < pix(r,c+1), row-major from the MSB; two's-complement cast
_SQL_IMAGE_HASHES = """
px AS (
  SELECT k.key, r.r, c.c,
    ('0x' || substr(md5(k.key || ':' || r.r || ':' || c.c), 1, 2))::INT
      AS v
  FROM (SELECT DISTINCT key FROM ids) k,
       generate_series(0, 7) r(r), generate_series(0, 8) c(c)),
hraw AS (
  SELECT a.key,
    sum(CASE WHEN a.v < b.v
             THEN (1::HUGEINT << (63 - (a.r * 8 + a.c)))
             ELSE 0::HUGEINT END) AS h
  FROM px a JOIN px b ON a.key = b.key AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < 8
  GROUP BY a.key),
hashes AS (
  SELECT key,
    (CASE WHEN h >= (1::HUGEINT << 63) THEN h - (1::HUGEINT << 64)
          ELSE h END)::BIGINT AS dhash
  FROM hraw)
"""

ORACLE_MEDIA_PHASH_PAIRS = f"""
WITH ids AS (
  SELECT doc_id AS media_id, doc_id % 40 AS key
  FROM documents WHERE doc_id < 60),
{_SQL_IMAGE_HASHES},
-- duplicate-id contract (_bucket_pairs): pair lists are DISTINCT and
-- self-pair-free — physical copies of one id add nothing
sk AS (SELECT DISTINCT i.media_id, h.dhash
       FROM ids i JOIN hashes h USING (key))
SELECT a.media_id AS id_a, b.media_id AS id_b,
  bit_count(xor(a.dhash, b.dhash))::INT AS hamming
FROM sk a JOIN sk b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
"""


def q_video_near_dup(spark, sf):
    """Cross-video perceptual near-dup detection
    (operators/multimodal.py): a hash-attestable MJPEG-in-MP4 corpus
    (``synthesize_hashable_videos`` — block-flat even-valued frames
    that baseline JPEG round-trips exactly, NN-resize sampling one
    pixel per block) where ids sharing ``doc_id % 15`` are planted
    duplicate clips; REAL demux → per-frame JPEG decode → dHash →
    pigeonhole hamming banding → per-video containment overlap. The
    DuckDB twin predicts every per-frame hash, the frame-pair join,
    and the containment aggregation closed-form — a mis-parsed sample
    table, wrong frame for a tick, or decoder defect flips the value
    hash."""
    ids = (_t(spark, sf, "documents")
           .filter((F.col("doc_id") >= 0) & (F.col("doc_id") < 30))
           .select("doc_id"))  # r12: see q_video_frames
    keyed = ids.select(F.col("doc_id").alias("media_id"),
                       (F.col("doc_id") % 15).alias("content_key"))
    media = multimodal.synthesize_hashable_videos(keyed)
    return multimodal.video_near_dup_pairs(media, every_ms=500,
                                           max_hamming=4)


#: shared tail of the video/audio oracles: frame-level hamming pairing
#: (exact recall — the Spark side's pigeonhole banding is lossless
#: within the budget) + per-media containment overlap, mirroring
#: multimodal.sequence_near_dup_pairs
def _sql_sequence_pairs(max_hamming: int, a: str = "media_a",
                        b: str = "media_b") -> str:
    return f"""
counts AS (SELECT media_id, count(*) AS n FROM frames GROUP BY media_id),
fpairs AS (
  SELECT x.media_id AS {a}, y.media_id AS {b},
    x.media_id * 1000000 + x.f AS fa, y.media_id * 1000000 + y.f AS fb
  FROM frames x JOIN frames y
    ON x.media_id * 1000000 + x.f < y.media_id * 1000000 + y.f
   AND x.media_id <> y.media_id
   AND bit_count(xor(x.h, y.h)) <= {max_hamming}),
agg AS (
  SELECT {a}, {b}, count(DISTINCT fa) AS matched_a,
         count(DISTINCT fb) AS matched_b
  FROM fpairs GROUP BY {a}, {b}),
ov AS (
  SELECT g.{a}, g.{b}, g.matched_a, g.matched_b,
    ca.n AS n_a, cb.n AS n_b,
    round(greatest(g.matched_a / ca.n, g.matched_b / cb.n), 6) AS overlap
  FROM agg g
  JOIN counts ca ON ca.media_id = g.{a}
  JOIN counts cb ON cb.media_id = g.{b})
SELECT * FROM ov WHERE overlap >= 0.5
"""


ORACLE_VIDEO_NEAR_DUP = f"""
WITH ids AS (
  SELECT doc_id AS media_id, doc_id % 15 AS key
  FROM documents WHERE doc_id >= 0 AND doc_id < 30),
-- per-(key, frame) block values: (md5 byte % 128) * 2, with the frame
-- count 2 + key % 3 at 2 fps so every_ms=500 samples each frame once
kframes AS (
  SELECT k.key, f.f FROM (SELECT DISTINCT key FROM ids) k,
       generate_series(0, 4) f(f)
  WHERE f.f < 2 + k.key % 3),
px AS (
  SELECT kf.key, kf.f, r.r, c.c,
    (('0x' || substr(md5(kf.key || ':' || kf.f || ':' || r.r || ':'
                         || c.c), 1, 2))::INT % 128) * 2 AS v
  FROM kframes kf, generate_series(0, 7) r(r), generate_series(0, 8) c(c)),
hraw AS (
  SELECT a.key, a.f,
    sum(CASE WHEN a.v < b.v
             THEN (1::HUGEINT << (63 - (a.r * 8 + a.c)))
             ELSE 0::HUGEINT END) AS h
  FROM px a JOIN px b ON a.key = b.key AND a.f = b.f AND a.r = b.r
                     AND b.c = a.c + 1
  WHERE a.c < 8
  GROUP BY a.key, a.f),
frames AS (
  SELECT i.media_id, hr.f,
    (CASE WHEN hr.h >= (1::HUGEINT << 63) THEN hr.h - (1::HUGEINT << 64)
          ELSE hr.h END)::BIGINT AS h
  FROM ids i JOIN hraw hr USING (key)),
{_sql_sequence_pairs(4, "video_a", "video_b")}
"""


def q_audio_near_dup(spark, sf):
    """Cross-audio perceptual near-dup detection
    (operators/multimodal.py): a hash-attestable WAV corpus
    (``synthesize_hashable_audio`` — 65 rank-amplitude tones per
    window at exact FFT bins, so band-energy order is a closed-form
    md5-byte permutation) where ids sharing ``doc_id % 15`` are
    planted clips at DIFFERENT volumes; REAL PCM decode →
    Haitsma-Kalker spectral sign bits → pigeonhole hamming banding →
    containment overlap. The DuckDB twin predicts every frame
    fingerprint from the rank permutation (volume invariance is what
    makes the different-volume plants land), so a decode or FFT-band
    defect flips the value hash."""
    ids = (_t(spark, sf, "documents")
           .filter((F.col("doc_id") >= 0) & (F.col("doc_id") < 30))
           .select("doc_id"))  # r12: see q_video_frames
    keyed = ids.select(F.col("doc_id").alias("media_id"),
                       (F.col("doc_id") % 15).alias("content_key"))
    media = multimodal.synthesize_hashable_audio(keyed)
    out = multimodal.audio_near_dup_pairs(media, frame_ms=100,
                                          max_hamming=4)
    return out.select("media_a", "media_b", "matched_a", "matched_b",
                      "n_a", "n_b", "overlap")


ORACLE_AUDIO_NEAR_DUP = f"""
WITH ids AS (
  SELECT doc_id AS media_id, doc_id % 15 AS key
  FROM documents WHERE doc_id >= 0 AND doc_id < 30),
-- per-(key, window, band) md5 byte; rank = position in the (byte,
-- band)-ordered permutation; Haitsma-Kalker sign bit b is exactly
-- rank[b+1] > rank[b] (tone amplitudes are 2 + rank at exact FFT bins)
bands AS (
  SELECT k.key, t.t, b.b,
    ('0x' || substr(md5(k.key || ':' || t.t || ':' || b.b), 1, 2))::INT
      AS byte
  FROM (SELECT DISTINCT key FROM ids) k,
       generate_series(0, 3) t(t), generate_series(0, 64) b(b)),
ranked AS (
  SELECT key, t, b,
    row_number() OVER (PARTITION BY key, t ORDER BY byte, b) - 1 AS rnk
  FROM bands),
hraw AS (
  SELECT a.key, a.t,
    sum(CASE WHEN b.rnk > a.rnk
             THEN (1::HUGEINT << (63 - a.b)) ELSE 0::HUGEINT END) AS h
  FROM ranked a JOIN ranked b
    ON a.key = b.key AND a.t = b.t AND b.b = a.b + 1
  WHERE a.b < 64
  GROUP BY a.key, a.t),
frames AS (
  SELECT i.media_id, hr.t AS f,
    (CASE WHEN hr.h >= (1::HUGEINT << 63) THEN hr.h - (1::HUGEINT << 64)
          ELSE hr.h END)::BIGINT AS h
  FROM ids i JOIN hraw hr USING (key)),
{_sql_sequence_pairs(4, "media_a", "media_b")}
"""


def q_media_curate(spark, sf):
    """End-to-end MEDIA curation composite — the multimodal analog of
    q_curate_pipeline: synthesized image corpus (planted exact-dup
    pairs via shared content keys, plus undecodable payloads) flows
    through decode-gated perceptual hashing (corrupt rows quarantine
    with NULL hashes), banded-hamming near-dup pairing, and
    connected-components keeper resolution. Hash-attestable via the
    closed-form image corpus (``synthesize_hashable_images``): the
    DuckDB twin predicts the hashes, replays the pairing, and labels
    components with a recursive transitive closure — so the decode
    gate, the banding, AND the large-star/small-star convergence are
    all value-checked."""
    ids = (_t(spark, sf, "documents")
           .filter((F.col("doc_id") >= 0) & (F.col("doc_id") < 40))
           .select("doc_id"))  # r12: see q_video_frames
    keyed = ids.select(F.col("doc_id").alias("media_id"),
                       (F.col("doc_id") % 25).alias("content_key"))
    media = multimodal.synthesize_hashable_images(keyed)
    corrupt = spark.createDataFrame(
        [(900, "image", bytearray(b"not an image"), "image/x-ppm",
          None, None, None),
         (901, "image", bytearray(b""), "image/x-ppm",
          None, None, None)],
        multimodal.MEDIA_SCHEMA)
    media = media.unionByName(corrupt)
    # lazy: the decode runs once inside the first downstream action
    # (the CC edge signature), not as its own driver-synchronous job
    hashes = multimodal.perceptual_hashes(media).localCheckpoint(
        eager=False)
    # duplicate-id contract: the label relation is KEYED (one row per
    # id) so the per-row attach below cannot go quadratic on copies
    good = (hashes.filter(F.col("dhash").isNotNull())
            .select("media_id").distinct())
    pairs = dedup.hamming_near_dup_pairs(
        hashes.filter(F.col("dhash").isNotNull())
        .select("media_id", "dhash"), "media_id", "dhash",
        max_hamming=4)
    resolved = graph.resolve_duplicate_clusters(good, pairs, "media_id")
    return (hashes.select(
        "media_id", F.col("dhash").isNotNull().alias("decoded"))
        .join(resolved.select("media_id", "component", "keep"),
              "media_id", "left")
        .select("media_id", "decoded", "component", "keep"))


ORACLE_MEDIA_CURATE = f"""
WITH ids AS (
  SELECT doc_id AS media_id, doc_id % 25 AS key
  FROM documents WHERE doc_id >= 0 AND doc_id < 40),
{_SQL_IMAGE_HASHES},
sk AS (SELECT i.media_id, h.dhash FROM ids i JOIN hashes h USING (key)),
-- symmetric edge set of the banding's exact-recall pair join
edges AS (
  SELECT a.media_id AS src, b.media_id AS dst
  FROM sk a JOIN sk b ON a.media_id <> b.media_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 4),
-- transitive closure: component = min reachable id (= the
-- large-star/small-star fixpoint label on an undirected graph)
comp AS (
  WITH RECURSIVE reach(id, lab) AS (
    SELECT media_id, media_id FROM sk
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
  SELECT id AS media_id, min(lab) AS component FROM reach GROUP BY id),
corrupt AS (SELECT * FROM (VALUES (900), (901)) v(media_id))
SELECT s.media_id, true AS decoded, c.component,
  (s.media_id = c.component) AS keep
FROM sk s JOIN comp c USING (media_id)
UNION ALL
SELECT media_id, false AS decoded, NULL::BIGINT AS component,
  NULL::BOOLEAN AS keep
FROM corrupt
"""


def q_media_metadata(spark, sf):
    """Driver-checkable correctness row for the multimodal codec path:
    synthesize deterministic PPM/BMP/PNG/WAV payloads from documents
    ids (md5-chain content), run them back through the REAL package
    decoders (functions/codecs.py), and emit decode-recovered
    invariants — sniffed format, parsed dims/duration, encoded length,
    md5 of the decoded content as lowercase hex. The DuckDB twin
    computes every column in closed form, so a wrong sniff, mis-parsed
    header, or single wrong decoded byte flips the value hash."""
    ids = _t(spark, sf, "documents").filter(
        (F.col("doc_id") >= 0) & (F.col("doc_id") < 24))  # r12: see q_video_frames
    return multimodal.synthesize_decode_invariants(ids, id_col="doc_id")


ORACLE_MEDIA_METADATA = """
WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id >= 0 AND doc_id < 24),
base AS (
  SELECT media_id,
    CASE media_id % 4 WHEN 0 THEN 'ppm' WHEN 1 THEN 'bmp'
                      WHEN 2 THEN 'png' ELSE 'wav' END AS fmt,
    (4 + media_id % 5) AS w, (3 + media_id % 4) AS h,
    (200 + (media_id % 7) * 37) AS nsamp
  FROM ids),
need AS (
  SELECT *,
    CASE WHEN fmt = 'wav' THEN nsamp * 2 ELSE w * h * 3 END AS nbytes
  FROM base),
stream AS (
  -- this DuckDB can't correlate generate_series bounds: over-generate a
  -- fixed block range (max nbytes here needs 53 blocks) and filter.
  -- duplicate-id contract: the md5 chain is a pure function of the id —
  -- build it once per DISTINCT id (a duplicated ids row would emit
  -- every block twice into the string_agg, interleaving the stream);
  -- the final join back to need amplifies per physical row, matching
  -- the per-row Spark synthesis.
  SELECT n.media_id,
    string_agg(md5(n.media_id || ':' || g.b), '' ORDER BY g.b) AS hexstream
  FROM (SELECT DISTINCT media_id, nbytes FROM need) n,
       generate_series(0, 63) AS g(b)
  WHERE g.b < (n.nbytes * 2 + 31) // 32
  GROUP BY n.media_id)
SELECT n.media_id, n.fmt,
  (CASE WHEN n.fmt = 'wav' THEN NULL ELSE n.w END)::INT AS width,
  (CASE WHEN n.fmt = 'wav' THEN NULL ELSE n.h END)::INT AS height,
  (CASE WHEN n.fmt = 'wav' THEN (n.nsamp * 1000) // 8000 END)::BIGINT
    AS duration_ms,
  (CASE n.fmt
     WHEN 'ppm' THEN 9 + length(n.w::VARCHAR) + length(n.h::VARCHAR)
                   + n.nbytes
     WHEN 'bmp' THEN 54 + ((n.w * 3 + 3) // 4) * 4 * n.h
     WHEN 'wav' THEN 44 + n.nbytes
   END)::BIGINT AS enc_len,
  md5(substr(s.hexstream, 1, n.nbytes * 2)) AS content_md5
FROM need n JOIN stream s USING (media_id)
"""


def q_video_frames(spark, sf):
    """Driver-checkable correctness row for REAL video frame
    extraction: synthesize deterministic MJPEG-in-MP4 payloads (flat
    even-valued colors, which baseline JPEG round-trips exactly), run
    the production ``sample_video_frames`` operator (ISO-BMFF sample
    table demux → per-tick JPEG sample), decode every extracted frame
    and emit the recovered schedule, dimensions, and pixel value — all
    closed-form in the DuckDB twin. A mis-parsed sample table, wrong
    frame picked for a tick, or decoder defect flips the hash."""
    # media synthesis addresses the corpus slice [0, N): negative
    # (extreme-dial) ids are outside it — they would overflow frame-id
    # packing and flip %-sign arithmetic in the synth content (r12)
    ids = _t(spark, sf, "documents").filter(
        (F.col("doc_id") >= 0) & (F.col("doc_id") < 12))
    media = multimodal.synthesize_mjpeg_media(ids, id_col="doc_id")
    frames = multimodal.sample_video_frames(media, every_ms=500)
    return multimodal.frame_decode_invariants(frames)


ORACLE_VIDEO_FRAMES = """
WITH ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id >= 0 AND doc_id < 12),
base AS (
  SELECT media_id, 16 + (media_id % 3) * 8 AS w,
         16 + (media_id % 2) * 8 AS h, 2 + media_id % 4 AS nf
  FROM ids)
SELECT b.media_id, g.i::INT AS frame_idx, (g.i * 500)::BIGINT AS ts_ms,
  'jpeg' AS fmt, b.w::INT AS width, b.h::INT AS height,
  (((b.media_id * 37 + g.i * 11) % 128) * 2)::INT AS color
FROM base b, generate_series(0, 4) AS g(i)
WHERE g.i < b.nf
"""


def q_curate_pipeline(spark, sf):
    """Flagship end-to-end curation composite, chaining the extension
    operators the way a real corpus build would:

    1. hold out a 10 % hash slice as the "benchmark",
    2. near-dup cluster the remaining corpus (MinHash LSH →
       connected components) and keep one doc per cluster,
    3. drop survivors sharing any 4-gram with the benchmark,
    4. keep each source's top half by quality score.

    Returns the curated corpus with its provenance columns.

    Plan-shape notes (measured at sf0.1): contamination is computed
    against the CORPUS slice, not the dedup survivors — identical
    final result (survivors are a subset and the flags inner-join
    back), but the gram branch then skips the cluster-label join, so
    the expensive keepers subtree appears once, not twice. And the
    narrow ``scored`` frame (id, source, component, quality) is
    localCheckpoint-ed before the quantile gate: ``quantile_gate``
    necessarily embeds its input twice (threshold aggregate + gated
    rows), and without the barrier the whole dedup-CC-decontaminate
    lineage replayed per use — a measured 30 s → ~10 s at sf0.1. At
    cluster scale the checkpoint materializes 4 narrow columns per
    surviving doc — the standard mid-composite cut point."""
    docs = _t(spark, sf, "documents")
    # keyed single-version panel (r10 winner rule, applied at the
    # pipeline head in r12): a curated corpus is keyed by doc_id, so
    # multi-version ids (conflict clones; extreme-dial id collisions)
    # resolve to ONE version — min md5(text), ties by (source, text) —
    # before any pipeline stage. Verbatim copies collapse via the
    # distinct; unique-id corpora (the canonical testdata) pass
    # through bit-unchanged.
    from pyspark.sql import Window as _W
    vw = _W.partitionBy("doc_id").orderBy(
        F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
        .asc_nulls_last(),
        F.col("source").asc_nulls_last(), F.col("text").asc_nulls_last())
    # no separate distinct: row_number == 1 already collapses every
    # version (ties among verbatim copies are value-identical), and the
    # dropped exchange is a full fat-row corpus shuffle. The window's
    # hashpartitioning(doc_id) is then REUSED by the minhash signature
    # groupBy downstream (same key), so resolution costs one exchange —
    # the inherent floor for a keyed decision.
    docs = (docs.filter(F.col("doc_id").isNotNull())
            .select("doc_id", "source", "text")
            .withColumn("__rn", F.row_number().over(vw))
            .filter(F.col("__rn") == 1).drop("__rn"))
    split = curation.hash_split(docs, "doc_id", {"bench": 1, "corpus": 9},
                                seed="decontam")
    bench = split.filter("split = 'bench'")
    corpus = split.filter("split = 'corpus'")
    pairs = dedup.minhash_near_dup_pairs(corpus, "doc_id", "text",
                                         k=12, bands=4)
    keepers = (graph.resolve_duplicate_clusters(corpus, pairs, "doc_id")
               .filter("keep"))
    cont = curation.benchmark_contamination(corpus, bench, "doc_id",
                                            "text", n=4)
    clean = (keepers.join(cont.filter(~F.col("contaminated"))
                          .select("doc_id"), "doc_id"))
    scored = clean.select(
        "doc_id", "source", "component",
        T.quality_score(F.col("text")).alias("quality")).localCheckpoint()
    gated = curation.quantile_gate(scored, "source", "quality", q=0.5)
    return gated.select("doc_id", "source", "component",
                        F.round("quality", 6).alias("quality"),
                        F.round("threshold", 6).alias("threshold"))


# corpus-scoped twins of the shared CTE kit: the shingle and recursion
# bases swap `documents` for the held-in corpus slice
_CORPUS_SHINGLE_SQL = _SHINGLE_SQL.format(km1=2).replace(
    "FROM documents", "FROM corpus_docs")

ORACLE_CURATE_PIPELINE = f"""
WITH RECURSIVE vers AS (
  -- keyed single-version resolution (r12, see q_curate_pipeline)
  SELECT DISTINCT doc_id, source, text,
    md5(coalesce(text, '')) AS fp
  FROM documents WHERE doc_id IS NOT NULL),
winner AS (
  SELECT doc_id, source, text FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY fp, source NULLS LAST, text NULLS LAST) AS rn
    FROM vers) WHERE rn = 1),
split AS (
  SELECT *,
    ('0x' || substr(md5('decontam|' || doc_id::VARCHAR), 1, 15))::BIGINT
      % 1000000 AS bucket
  FROM winner),
corpus_docs AS (SELECT * FROM split WHERE bucket >= 100000),
bench_docs AS (SELECT * FROM split WHERE bucket < 100000),
shingled AS ({_CORPUS_SHINGLE_SQL}),
{_MINHASH_SIGS_CTE},
{_LSH_CAND_CTES},
edges AS (
  SELECT id_a AS u, id_b AS v FROM cand
  UNION
  SELECT id_b AS u, id_a AS v FROM cand),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM corpus_docs
  UNION
  SELECT e.v, reach.r FROM edges e JOIN reach ON reach.node = e.u),
comp AS (
  SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node),
keepers AS (
  SELECT c.doc_id, c.component, d.source, d.text
  FROM comp c JOIN corpus_docs d ON c.doc_id = d.doc_id
  WHERE c.doc_id = c.component),
ktoks AS (
  SELECT doc_id, component, source,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t
  FROM keepers),
kgrams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS gram
  FROM ktoks, unnest(range(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 4),
btoks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM bench_docs),
bgrams AS (
  SELECT DISTINCT array_to_string(t[i:i+3], ' ') AS gram
  FROM btoks, unnest(range(1, len(t) - 2)) AS g(i)
  WHERE len(t) >= 4),
contaminated AS (
  SELECT DISTINCT k.doc_id FROM kgrams k JOIN bgrams USING (gram)),
clean AS (
  SELECT k.doc_id, k.component, k.source FROM ktoks k
  WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated)),
scored AS (
  SELECT c.doc_id, c.component, c.source, q.quality
  FROM clean c
  JOIN ({_QUALITY_STATS_SQL.replace("FROM documents", "FROM winner")}) q
    ON c.doc_id = q.doc_id),
th AS (
  SELECT source, quantile_cont(quality, 0.5) AS threshold
  FROM scored GROUP BY source)
SELECT s.doc_id, s.source, s.component,
  round(s.quality, 6) AS quality, round(th.threshold, 6) AS threshold
FROM scored s JOIN th USING (source)
WHERE s.quality >= th.threshold
"""


def q_char_entropy(spark, sf):
    """Character-distribution Shannon entropy per document
    (operators/curation.py ``char_entropy``): the compression-style
    garbage/repetition gate. One char explode with map-side-combined
    counts (shuffle ≤ |alphabet| rows per doc), per-char terms rounded
    to 12 and decimal-summed for cross-engine exactness."""
    docs = _t(spark, sf, "documents")
    return curation.char_entropy(docs, "doc_id", "text")


ORACLE_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, length(text) AS n_chars,
    unnest(string_split(text, '')) AS ch
  FROM documents WHERE length(text) > 0),
counts AS (
  SELECT doc_id, n_chars, ch, count(*) AS c
  FROM chars WHERE ch <> '' GROUP BY 1, 2, 3)
SELECT doc_id, n_chars, count(*)::BIGINT AS n_distinct_chars,
  round(sum(round(-(c::DOUBLE / n_chars) * ln(c::DOUBLE / n_chars),
                  12)::DECIMAL(38,12))::DOUBLE, 6) AS entropy
FROM counts GROUP BY doc_id, n_chars
"""


def q_bpe_train(spark, sf):
    """Distributed BPE merge learning (functions/tokenize.py
    ``bpe_train``): 6 merges learned from the documents corpus — one
    corpus shuffle builds the word-frequency table, every merge
    iteration runs on that vocabulary-sized relation. The ordered merge
    list is the model artifact; the oracle re-learns it with an
    identical chained-CTE procedure."""
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK
    docs = _t(spark, sf, "documents")
    merges = TK.bpe_train(docs, "text", n_merges=6)
    return spark.createDataFrame(
        [(i + 1, x, y, x + y) for i, (x, y) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string, merged string")


def _oracle_bpe_train(n_merges: int = 6) -> str:
    parts = [r"""WITH words AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(list_filter(
      string_split_regex(lower(text), '[^a-z0-9_]+'), x -> x <> '')) AS w
    FROM documents) GROUP BY w),
seg0 AS MATERIALIZED (
  SELECT w, cnt, '  ' || regexp_replace(w, '(.)', '\1  ', 'g') AS seg
  FROM words)"""]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(f"""arr{k} AS (
  SELECT cnt, list_filter(string_split(seg, '  '), z -> z <> '') AS a
  FROM seg{p}),
pairs{k} AS (
  SELECT a[i] AS x, a[i + 1] AS y, sum(cnt) AS c
  FROM arr{k}, unnest(range(1, len(a))) AS r(i)
  WHERE len(a) >= 2 GROUP BY 1, 2),
best{k} AS MATERIALIZED (SELECT x, y FROM pairs{k}
            ORDER BY c DESC, x ASC, y ASC LIMIT 1),
seg{k} AS MATERIALIZED (
  SELECT w, cnt,
    replace(seg,
      ' ' || (SELECT x FROM best{k}) || '  '
          || (SELECT y FROM best{k}) || ' ',
      ' ' || (SELECT x || y FROM best{k}) || ' ') AS seg
  FROM seg{p})""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_rank, x AS lhs, y AS rhs, x || y AS merged "
        f"FROM best{k}" for k in range(1, n_merges + 1))
    return ",\n".join(parts) + "\n" + sel


def q_bpe_encode(spark, sf):
    """The inference half of the BPE pair (functions/tokenize.py
    ``bpe_encode``): train 6 merges on the corpus, then encode every
    document with them — all native Catalyst (the merges apply as
    chained string replaces over the DISTINCT-WORD relation; word
    occurrences rejoin their piece arrays and re-assemble per doc in
    word order). The oracle re-learns the merges with the same
    chained-CTE procedure as ``bpe_train`` and replays the identical
    replace chain, so a single wrong merge, piece split, or
    out-of-order reassembly flips the value hash."""
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK
    docs = _t(spark, sf, "documents")
    # ONE shared word-count relation (r14): the trainer's vocabulary
    # aggregation and the encoder's distinct-word segmentation source
    # are the same relation — persist it once (bpe_train's merge
    # collect materializes it; the encode job reads the cache), so the
    # corpus regex-tokenizes twice (counts + the position-carrying
    # occurrence join) instead of three times.
    wc = persist(TK.bpe_word_counts(docs, "text"))
    merges = TK.bpe_train(docs, "text", n_merges=6, words=wc)
    return TK.bpe_encode(docs, "doc_id", "text", merges, words=wc)


def _oracle_bpe_encode(n_merges: int = 6) -> str:
    # reuse the full training chain, then swap the trainer's SELECT for
    # the encode tail (the chain ends at seg{n}: word -> final seg)
    chain = _oracle_bpe_train(n_merges)
    chain = chain[:chain.index("\nSELECT 1 AS merge_rank")]
    return chain + f""",
enc AS (
  SELECT w, list_filter(string_split(seg, '  '), z -> z <> '') AS p
  FROM seg{n_merges}),
wls AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS wl
  FROM documents),
-- this DuckDB cannot correlate generate_series bounds: over-generate a
-- fixed position range (max words/doc in testdata is 100) and filter
docw AS (
  SELECT doc_id, g.i AS wp, wl[g.i] AS w
  FROM wls, generate_series(1, 256) g(i)
  WHERE g.i <= len(wl)),
agg AS (
  -- ORDER BY (wp, p): Spark reassembles via array_sort over
  -- (position, pieces) structs, so position TIES across colliding-id
  -- versions (r12 extreme dial mints several rows per id) break by
  -- the piece list, not by physical row order
  SELECT d.doc_id, flatten(list(e.p ORDER BY d.wp, e.p)) AS pieces
  FROM docw d JOIN enc e USING (w) GROUP BY d.doc_id)
SELECT w.doc_id, coalesce(a.pieces, []::VARCHAR[]) AS pieces,
  coalesce(len(a.pieces), 0)::INT AS n_pieces
FROM wls w LEFT JOIN agg a USING (doc_id)"""


def q_tokenizer_fertility(spark, sf):
    """Tokenizer fertility audit (functions/tokenize.py
    ``tokenizer_fertility``, Rust et al. ACL'21 §3): per-language
    pieces/word + chars/piece of the 6-merge BPE encoder — the
    multilingual-vocab skew check. Rides bpe_encode's zero-Python
    encode; ONE |strata|-row aggregation after an id-equi join."""
    from zacks_estimates_financial_statements_spark.functions import tokenize as TK
    docs = _t(spark, sf, "documents")
    # same shared word-count relation as q_bpe_encode (r14)
    wc = persist(TK.bpe_word_counts(docs, "text"))
    merges = TK.bpe_train(docs, "text", n_merges=6, words=wc)
    enc = TK.bpe_encode(docs, "doc_id", "text", merges, words=wc)
    return TK.tokenizer_fertility(docs, enc, "doc_id", "text", "lang")


def _oracle_tokenizer_fertility() -> str:
    enc = _oracle_bpe_encode(6)
    return f"""
WITH encres AS ({enc})
SELECT d.lang AS stratum, count(*)::BIGINT AS n_docs,
  sum(len(list_filter(string_split_regex(lower(d.text),
      '[^a-z0-9_]+'), x -> x <> '')))::BIGINT AS n_words,
  sum(e.n_pieces)::BIGINT AS n_pieces,
  CASE WHEN sum(len(list_filter(string_split_regex(lower(d.text),
       '[^a-z0-9_]+'), x -> x <> ''))) > 0 THEN
    round(sum(e.n_pieces)::DOUBLE
          / sum(len(list_filter(string_split_regex(lower(d.text),
                '[^a-z0-9_]+'), x -> x <> ''))), 6) END AS fertility,
  CASE WHEN sum(e.n_pieces) > 0 THEN
    round(sum(length(regexp_replace(lower(d.text), '[^a-z0-9_]', '',
                                    'g')))::DOUBLE
          / sum(e.n_pieces), 6) END AS chars_per_piece
FROM documents d JOIN encres e USING (doc_id)
GROUP BY d.lang
"""


def q_pq_adc_topk(spark, sf):
    """Product-quantization ADC top-k (operators/similarity.py): 64-dim
    embeddings compress to 4 one-byte codes (4 subspaces × 16 codes,
    deterministic seed codebooks the oracle re-derives); queries score candidates through per-query M×ks
    lookup tables, never through the floats. The DuckDB twin replays
    codebook slicing, argmin encoding, table build, and the
    decimal-summed ADC ranking."""
    emb = _emb(spark, sf)
    # ONE fused seed relation (r14, VERDICT r13 item 6): the query
    # anchors (LIMIT 5) and the codebook seeds (LIMIT 16) both draw
    # from the same unique-id sorted prefix, so materialize that
    # ≤4096-row prefix once (localCheckpoint — a single TakeOrdered
    # job) and feed both consumers from it. unique_seed_prefix is
    # idempotent for every k ≪ prefetch (a second application can only
    # drop the prefix's own boundary id), so pq_codebook's internal
    # prefix over this relation selects the identical 16 seeds the
    # corpus-wide prefix would — the oracle twin is unchanged and
    # attests it.
    pre = _emb1(spark, sf).localCheckpoint()
    queries = (pre.orderBy("vec_id").limit(5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    book = similarity.pq_codebook(pre, dims=64, n_subspaces=4,
                                  n_codes=16)
    return similarity.topk_pq_adc(emb, queries, k=3, dims=64,
                                  n_subspaces=4, n_codes=16,
                                  codebook=book)


_SQ_SQL = """
  list_reduce(list_transform(list_zip({a}, {b}),
              p -> (p[1]::DOUBLE - p[2]::DOUBLE)
                 * (p[1]::DOUBLE - p[2]::DOUBLE)), (x, y) -> x + y)
"""

ORACLE_PQ_ADC_TOPK = f"""
WITH seeds AS (
  SELECT vec_id, embedding,
    (row_number() OVER (ORDER BY vec_id) - 1)::INT AS code_id
  FROM (SELECT * FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings ORDER BY vec_id LIMIT 16)),
book AS (
  SELECT m.m::INT AS subspace, s.code_id,
    s.embedding[m.m * 16 + 1 : m.m * 16 + 16] AS code_vec
  FROM seeds s, generate_series(0, 3) m(m)),
sliced AS (
  SELECT e.vec_id, m.m::INT AS subspace,
    e.embedding[m.m * 16 + 1 : m.m * 16 + 16] AS v
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e, generate_series(0, 3) m(m)),
enc AS (
  SELECT vec_id, subspace, code_id FROM (
    SELECT s.vec_id, s.subspace, b.code_id,
      row_number() OVER (PARTITION BY s.vec_id, s.subspace
        ORDER BY round({_SQ_SQL.format(a='s.v', b='b.code_vec')}, 6) ASC,
                 b.code_id ASC) AS rn
    FROM sliced s JOIN book b USING (subspace))
  WHERE rn = 1),
qparts AS (
  SELECT q.vec_id AS query_id, m.m::INT AS subspace,
    q.embedding[m.m * 16 + 1 : m.m * 16 + 16] AS qv
  FROM (SELECT vec_id, embedding FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
        ORDER BY vec_id LIMIT 5) q,
       generate_series(0, 3) m(m)),
tbl AS (
  -- dec6 twin (r12): a fuzzed 3e38 float32 element squares to inf —
  -- outside the exact-aggregation domain -> NULL on both engines
  SELECT qp.query_id, qp.subspace, b.code_id,
    {_decg(f"round({_SQ_SQL.format(a='qp.qv', b='b.code_vec')}, 6)")}
      AS d
  FROM qparts qp JOIN book b USING (subspace)),
scored AS (
  SELECT t.query_id, e.vec_id, round(sum(t.d)::DOUBLE, 6) AS adc_dist
  FROM enc e JOIN tbl t USING (subspace, code_id)
  GROUP BY 1, 2)
SELECT query_id, vec_id, adc_dist, rank FROM (
  SELECT query_id, vec_id, adc_dist,
    (row_number() OVER (PARTITION BY query_id
        ORDER BY adc_dist ASC, vec_id ASC))::INT AS rank
  FROM scored)
WHERE rank <= 3
"""


def q_bloom_semi_join(spark, sf):
    """Explicit bloom semi-join reduction (operators/skew.py
    ``bloom_semi_join``): lineitem probes a 2^20-bit / 3-hash bitmap of
    the urgent-orders key set BEFORE the join's exchange (the bitmap
    attaches as the whitelisted 1-row broadcast crossJoin), then the
    exact join eliminates bloom false positives — byte-equal to the
    plain join, which is exactly what the oracle states. The manual,
    deterministic form of the runtime bloom filter this container's
    Spark cannot enable (session.py note)."""
    from zacks_estimates_financial_statements_spark.operators import skew as SK
    li = _t(spark, sf, "lineitem")
    od = (_t(spark, sf, "orders")
          .filter(F.col("o_orderpriority") == "1-URGENT")
          .select("o_orderkey", "o_totalprice"))
    large = li.select(F.col("l_orderkey").alias("o_orderkey"),
                      "l_quantity", "l_linenumber")
    out = SK.bloom_semi_join(large, od, "o_orderkey", "inner")
    # unrepresentable-measure contract (r12): the text render routes
    # through the guarded decimal — NaN/±Inf AND out-of-domain finite
    # doubles (|x| >= 1e26, e.g. DBL_MAX) render NULL; a raw double
    # cast would hit engine-specific float formatting ("1.79E308" vs
    # "1.79e+308")
    return out.select(
        "o_orderkey", "l_linenumber",
        decimal_text(_dec(F.col("l_quantity"))).alias("qty_text"),
        decimal_text(_dec(F.col("o_totalprice"))).alias("total_text"))


ORACLE_BLOOM_SEMI_JOIN = f"""
SELECT l.l_orderkey AS o_orderkey, l.l_linenumber,
  {_dt_sql(_decg('l.l_quantity'))} AS qty_text,
  {_dt_sql(_decg('o.o_totalprice'))} AS total_text
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
"""


def q_label_propagation(spark, sf):
    """Deterministic synchronous LPA (operators/graph.py
    ``label_propagation``): 4 rounds over the same deterministic
    97-host link graph pagerank uses; neighbor-majority labels, ties
    to the smallest label — each round replayed as a MATERIALIZED
    CTE in the twin."""
    docs = _t(spark, sf, "documents")
    # overflow contract (r12 extreme dial): pmod-reduce the id BEFORE
    # mixing (LONG_MAX*31 aborts); identical to the old %-form for the
    # canonical non-negative ids, and sign-stable for fuzzed negatives
    h = F.pmod(F.col("doc_id"), F.lit(97))
    edges = (docs.select(
        h.alias("src"),
        ((h * 31 + 7) % 97).alias("dst"))
        .filter(F.col("src") != F.col("dst")))
    return graph.label_propagation(edges, n_iter=4)


def _oracle_label_propagation(n_iter: int = 4) -> str:
    parts = ["""WITH e AS (
  SELECT DISTINCT h AS src, (h * 31 + 7) % 97 AS dst FROM (
    SELECT (doc_id % 97 + 97) % 97 AS h FROM documents)
  WHERE h <> (h * 31 + 7) % 97),
sym AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e
    UNION ALL SELECT dst AS a, src AS b FROM e)),
l0 AS MATERIALIZED (
  SELECT DISTINCT a AS node, a AS label FROM sym)"""]
    for k in range(1, n_iter + 1):
        parts.append(f""",
c{k} AS MATERIALIZED (
  SELECT s.a AS node, l.label, count(*) AS c
  FROM sym s JOIN l{k - 1} l ON s.b = l.node
  GROUP BY s.a, l.label),
l{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label, row_number() OVER
      (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM c{k}) WHERE rn = 1)""")
    parts.append(f"\nSELECT node, label FROM l{n_iter}")
    return "".join(parts)


def q_pagerank(spark, sf):
    """Distributed fixed-iteration PageRank (operators/graph.py): the
    crawl-quality prior over a deterministic link graph derived from
    document ids (97 hosts, edge doc%97 -> (doc*31+7)%97). Five
    iterations, decimal-summed contributions, per-iteration rank
    rounding — bit-equal to the chained-CTE ANSI twin."""
    docs = _t(spark, sf, "documents")
    # overflow contract (r12 extreme dial): pmod-reduce the id BEFORE
    # mixing (LONG_MAX*31 aborts); identical to the old %-form for the
    # canonical non-negative ids, and sign-stable for fuzzed negatives
    h = F.pmod(F.col("doc_id"), F.lit(97))
    edges = (docs.select(
        h.alias("src"),
        ((h * 31 + 7) % 97).alias("dst"))
        .filter(F.col("src") != F.col("dst")))
    return graph.pagerank(edges, n_iter=5)


def _oracle_pagerank(n_iter: int = 5) -> str:
    one_minus_d = "(1.0::DOUBLE - 0.85::DOUBLE)"
    parts = ["""WITH e AS (
  SELECT DISTINCT h AS src, (h * 31 + 7) % 97 AS dst FROM (
    SELECT (doc_id % 97 + 97) % 97 AS h FROM documents)
  WHERE h <> (h * 31 + 7) % 97),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
outdeg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
base AS (SELECT n.node, d.deg FROM nodes n LEFT JOIN outdeg d USING (node)),
nn AS (SELECT count(*)::BIGINT AS n FROM base),
r0 AS (SELECT node, deg, round(1.0::DOUBLE / (SELECT n FROM nn), 6) AS rank
       FROM base)"""]
    for k in range(1, n_iter + 1):
        p = k - 1
        parts.append(f"""dang{k} AS (
  SELECT coalesce(sum(rank::DECIMAL(38,6)), 0::DECIMAL(38,6)) AS dm
  FROM r{p} WHERE deg IS NULL),
contrib{k} AS (
  SELECT e.dst AS node,
    sum(round(r.rank / r.deg, 12)::DECIMAL(38,12)) AS c
  FROM e JOIN r{p} r ON e.src = r.node AND r.deg IS NOT NULL
  GROUP BY e.dst),
r{k} AS (
  SELECT b.node, b.deg,
    round({one_minus_d} / (SELECT n FROM nn)
      + 0.85::DOUBLE * (coalesce(c.c::DOUBLE, 0.0::DOUBLE)
          + (SELECT dm FROM dang{k})::DOUBLE / (SELECT n FROM nn)),
      6) AS rank
  FROM r{p} b LEFT JOIN contrib{k} c USING (node))""")
        # each r{k} re-derives deg so the dangling filter keeps working
    return ",\n".join(parts) + f"\nSELECT node, rank FROM r{n_iter}"


def q_fuzzy_match(spark, sf):
    """Blocked fuzzy record linkage (operators/linkage.py): part names
    with one deterministic character deletion matched back to the
    catalog via prefix/suffix blocking + in-block levenshtein, folded
    to the best match per dirty record. Two equi-joins + one distinct +
    one agg — never |dirty| x |catalog| distance computations."""
    from zacks_estimates_financial_statements_spark.operators import linkage
    part = _t(spark, sf, "part")
    dirty = (part.filter(F.col("p_partkey") % 10 == 0)
             .select(F.col("p_partkey").alias("dirty_id"),
                     F.concat(
                         F.expr("substring(p_name, 1, "
                                "p_partkey % length(p_name))"),
                         F.expr("substring(p_name, "
                                "p_partkey % length(p_name) + 2)"))
                     .alias("dirty_name")))
    pairs = linkage.fuzzy_join(dirty, part.select("p_partkey", "p_name"),
                               "dirty_name", "p_name", max_dist=1)
    return linkage.best_match(pairs, "dirty_id", "p_partkey")


# r11 Unicode contract: Spark levenshtein counts CODEPOINT edits,
# DuckDB's counts BYTES — cross-engine distance is only defined on
# pure ASCII, so linkage.fuzzy_join blocks and measures over
# linkage_key (ascii_fold -> printable-ASCII projection). r12: keys
# whose projection is EMPTY never enter the distance tier, but two
# exactly-equal raw keys (e.g. identical CJK strings) still link at
# distance 0 via a raw-equality equi-join — exact equality is
# engine-agnostic. The twin states the same two tiers.
ORACLE_FUZZY_MATCH = f"""
WITH dirty0 AS (
  SELECT p_partkey AS dirty_id,
    substr(p_name, 1, p_partkey % length(p_name))
      || substr(p_name, p_partkey % length(p_name) + 2) AS dirty_name
  FROM part WHERE p_partkey % 10 = 0),
dirtyk AS (
  SELECT dirty_id, dirty_name,
    {_lkey_sql('dirty_name')} AS dn FROM dirty0
  WHERE dirty_name IS NOT NULL),
catk AS (
  SELECT p_partkey, p_name, {_lkey_sql('p_name')} AS pn FROM part
  WHERE p_name IS NOT NULL),
dirty AS (SELECT * FROM dirtyk WHERE dn <> ''),
cat AS (SELECT * FROM catk WHERE pn <> ''),
cand AS (
  SELECT d.dirty_id, d.dn, p.p_partkey, p.pn
  FROM dirty d JOIN cat p ON substr(d.dn, 1, 3) = substr(p.pn, 1, 3)
  UNION
  SELECT d.dirty_id, d.dn, p.p_partkey, p.pn
  FROM dirty d JOIN cat p ON right(d.dn, 3) = right(p.pn, 3)),
pairs AS (
  SELECT dirty_id, p_partkey,
    levenshtein(dn, pn) AS dist
  FROM cand WHERE levenshtein(dn, pn) <= 1
  UNION ALL
  SELECT dirty_id, p_partkey, 0 AS dist FROM (
    SELECT DISTINCT d.dirty_id, d.dirty_name, p.p_partkey, p.p_name
    FROM dirtyk d JOIN catk p ON d.dirty_name = p.p_name
    WHERE d.dn = '' AND d.dirty_name <> ''
      AND p.pn = '' AND p.p_name <> '')),
ranked AS (
  SELECT dirty_id, p_partkey, dist,
    row_number() OVER (PARTITION BY dirty_id
      ORDER BY dist ASC, p_partkey ASC) AS rn,
    count(*) OVER (PARTITION BY dirty_id) AS n_candidates
  FROM pairs)
SELECT dirty_id, p_partkey, dist::INT AS dist,
  n_candidates::BIGINT AS n_candidates
FROM ranked WHERE rn = 1
"""


def q_robust_outliers(spark, sf):
    """Ingestion anomaly monitor (operators/profiling.py
    ``robust_outliers``): per (event_type, day) median/MAD modified
    z-score flags on the value stream. Two exact-percentile aggs on the
    same key, per-bucket stats broadcast back — the fact rows shuffle
    for aggregation, never for the joins."""
    from zacks_estimates_financial_statements_spark.operators import profiling
    ev = _t(spark, sf, "events")
    out = profiling.robust_outliers(ev, "ts", ["event_type"], "value")
    return out.select(
        "event_id", "event_type",
        F.unix_micros("bucket").alias("bucket_us"),
        "med", "mad", "is_outlier")


ORACLE_ROBUST_OUTLIERS = f"""
WITH b AS (
  -- non-finite contract: NaN/±Inf measure behaves like NULL (excluded
  -- from med/MAD, row kept, is_outlier NULL) — operator docstring
  SELECT event_id, event_type, date_trunc('day', ts) AS bucket,
         {_fin_sql('value')} AS value
  FROM events),
med AS (
  SELECT event_type, bucket, quantile_cont(value, 0.5) AS med
  FROM b GROUP BY 1, 2),
dev AS (
  SELECT b.*, m.med FROM b JOIN med m USING (event_type, bucket)),
mad AS (
  SELECT event_type, bucket, quantile_cont(abs(value - med), 0.5) AS mad
  FROM dev GROUP BY 1, 2)
SELECT d.event_id, d.event_type, epoch_us(d.bucket) AS bucket_us,
  round(d.med, 6) AS med, round(m.mad, 6) AS mad,
  abs(d.value - d.med) > 3.5 * 1.4826 * m.mad AS is_outlier
FROM dev d JOIN mad m USING (event_type, bucket)
"""


def q_zorder_key(spark, sf):
    """Z-order (Morton) clustering key (operators/layout.py): events
    mapped onto a 2-D curve over (user_id, minute-of-month), the write
    layout that keeps BOTH columns' parquet min-max ranges tight for
    multi-dimensional file skipping. Pure integer scaling + a flat
    shift/mask interleave — one codegen projection, zero shuffles,
    integer-exact across engines (which is what the oracle checks)."""
    from zacks_estimates_financial_statements_spark.operators import layout
    ev = _t(spark, sf, "events")
    # NULL contract: a layout key must exist — rows missing either curve
    # dimension are excluded (oracle twin matches)
    ev = ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    minute = F.floor(F.unix_micros("ts") / F.lit(60_000_000)) - F.lit(_ZO_BASE_MIN)
    zx = layout.scale_to_bits(F.col("user_id"), 0, 149, _ZO_BITS)
    zy = layout.scale_to_bits(minute, 0, 44639, _ZO_BITS)
    return (ev.select(
        "event_id", zx.alias("zx"), zy.alias("zy"),
        layout.zorder_key([zx, zy], _ZO_BITS).alias("zkey")))


_ZO_BITS = 12
_ZO_BASE_MIN = 1704067200 // 60  # 2024-01-01T00:00Z in minutes


def _zo_scale_sql(v: str, lo: int, hi: int, bits: int) -> str:
    top, span = (1 << bits) - 1, max(hi - lo, 1)
    return (f"((least(greatest(({v})::BIGINT, {lo}), {hi}) - {lo})"
            f" * {top}) // {span}")


def _zo_interleave_sql(x: str, y: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b + 1})")
    return " + ".join(terms)


ORACLE_ZORDER_KEY = f"""
WITH dims AS (
  SELECT event_id,
    {_zo_scale_sql("user_id", 0, 149, _ZO_BITS)} AS zx,
    {_zo_scale_sql(f"epoch_us(ts) // 60000000 - {_ZO_BASE_MIN}",
                   0, 44639, _ZO_BITS)} AS zy
  -- NULL contract: a layout key must exist — rows missing either
  -- curve dimension are excluded (Spark def matches)
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
SELECT event_id, zx, zy,
  ({_zo_interleave_sql("zx", "zy", _ZO_BITS)})::BIGINT AS zkey
FROM dims
"""


def q_standardize(spark, sf):
    """Z-score feature scaling (operators/profiling.py ``standardize``):
    one stats agg over one scan, the 1-row relation broadcast back —
    the fact table never shuffles. Population sigma from decimal-exact
    moments, per-row result rounded 6."""
    from zacks_estimates_financial_statements_spark.operators import profiling
    li = _t(spark, sf, "lineitem")
    out = profiling.standardize(
        li.select("l_orderkey", "l_linenumber", "l_quantity",
                  "l_extendedprice"),
        ["l_quantity", "l_extendedprice"])
    return out.select("l_orderkey", "l_linenumber",
                      "l_quantity__scaled", "l_extendedprice__scaled")


def _std_sql(c: str) -> str:
    n = "(SELECT count(*) FROM lineitem)::DOUBLE"
    s = f"(SELECT sum({_decg(c)}) FROM lineitem)::DOUBLE"
    ss = (f"(SELECT sum({_decg(f'round({c} * {c}, 6)')}) "
          f"FROM lineitem)::DOUBLE")
    mu = f"({s} / {n})"
    sigma = f"sqrt(greatest(({ss} / {n}) - {mu} * {mu}, 0.0))"
    # + 0 folds IEEE -0.0 to 0.0 (DuckDB round keeps the sign of a
    # tiny negative rounding to zero; Spark's drops it — sf0.1 find).
    # Out-of-domain x -> NULL scaled (r12; see profiling.standardize)
    return (f"CASE WHEN isfinite({c}) AND abs({c}) < 1e26 THEN "
            f"round(({c}::DOUBLE - {mu}) / nullif({sigma}, 0.0), 6) + 0 "
            f"END AS {c}__scaled")


ORACLE_STANDARDIZE = f"""
SELECT l_orderkey, l_linenumber,
  {_std_sql("l_quantity")},
  {_std_sql("l_extendedprice")}
FROM lineitem
"""


def q_histogram(spark, sf):
    """Per-event-type equi-width value histogram (operators/profiling.py
    ``value_histogram``): one width_bucket projection + one map-side-
    combined count; the distribution-drift companion to the min/max
    panel."""
    from zacks_estimates_financial_statements_spark.operators import profiling
    ev = _t(spark, sf, "events")
    return profiling.value_histogram(ev, "value", 0.0, 500.0, 10,
                                     group_cols=["event_type"])


ORACLE_HISTOGRAM = """
WITH b AS (
  SELECT event_type,
    (CASE WHEN value < 0.0 THEN 0
          WHEN value >= 500.0 THEN 11
          ELSE floor((value::DOUBLE - 0.0) * 10.0
                     / (500.0 - 0.0)) + 1 END)::INT AS bucket
  FROM events)
SELECT event_type, bucket,
  CASE WHEN bucket BETWEEN 1 AND 10
       THEN round((bucket - 1) * 50.0::DOUBLE, 6) END AS bin_lo,
  CASE WHEN bucket BETWEEN 1 AND 10
       THEN round(bucket * 50.0::DOUBLE, 6) END AS bin_hi,
  count(*) AS n
FROM b GROUP BY event_type, bucket
"""


def q_correlation(spark, sf):
    """Pairwise Pearson panel over lineitem's numeric columns
    (operators/profiling.py ``correlation_matrix``): all moments in ONE
    map-side-combined aggregation over one scan, decimal-routed so the
    two engines agree exactly."""
    li = _t(spark, sf, "lineitem")
    from zacks_estimates_financial_statements_spark.operators import profiling
    return profiling.correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])


def _corr_branch(a: str, b: str) -> str:
    # non-finite contract: every moment mirrors Spark's guarded decimal
    # element cast (NaN/±Inf row -> NULL, skipped by the sum)
    sa, sb = f"sum({_decg(a)})::DOUBLE", f"sum({_decg(b)})::DOUBLE"
    sp = f"sum({_decg(f'round({a} * {b}, 6)')})::DOUBLE"
    saa = f"sum({_decg(f'round({a} * {a}, 6)')})::DOUBLE"
    sbb = f"sum({_decg(f'round({b} * {b}, 6)')})::DOUBLE"
    return f"""
SELECT '{a}' AS col_a, '{b}' AS col_b,
  (SELECT count(*) FROM lineitem)::BIGINT AS n,
  round((count(*)::DOUBLE * {sp} - {sa} * {sb})
    / nullif(sqrt(count(*)::DOUBLE * {saa} - {sa} * {sa})
          * sqrt(count(*)::DOUBLE * {sbb} - {sb} * {sb}), 0.0), 6) AS r
FROM lineitem"""


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
ORACLE_CORRELATION = " UNION ALL ".join(
    _corr_branch(a, b) for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1:])


def q_profile_table(spark, sf):
    """Single-pass per-column table profile (operators/profiling.py):
    null/distinct/min/max/length panel over the events table as ONE
    map-side-combined aggregation (exact distinct here for the oracle;
    the default is HLL for corpus scale). min/max render through the
    canonical per-type text forms so the two engines hash equal."""
    from zacks_estimates_financial_statements_spark.operators import profiling
    ev = _t(spark, sf, "events")
    return profiling.profile_table(ev, exact=True)


def _profile_branch(col: str, kind: str) -> str:
    tot = "(SELECT count(*) FROM events)"
    if kind == "long":
        mn, mx = f"min({col})::VARCHAR", f"max({col})::VARCHAR"
        al = "NULL::DOUBLE"
    elif kind == "ts":
        mn = f"epoch_us(min({col}))::VARCHAR"
        mx = f"epoch_us(max({col}))::VARCHAR"
        al = "NULL::DOUBLE"
    elif kind == "double":
        # non-finite contract: Spark renders min/max through an ANSI
        # decimal cast (NaN/±Inf -> NULL); guard the agg result likewise
        mn = _dt_sql(_decg(f"min({col})"))
        mx = _dt_sql(_decg(f"max({col})"))
        al = "NULL::DOUBLE"
    else:  # string
        mn, mx = f"min({col})", f"max({col})"
        al = f"round(sum(length({col}))::DOUBLE / count({col}), 6)"
    return f"""
SELECT '{col}' AS "column", {tot}::BIGINT AS n_rows,
  ({tot} - count({col}))::BIGINT AS n_nulls,
  count(DISTINCT {col})::BIGINT AS n_distinct,
  {mn} AS min_value, {mx} AS max_value, {al} AS avg_len
FROM events"""


ORACLE_PROFILE_TABLE = " UNION ALL ".join(
    _profile_branch(c, k) for c, k in [
        ("event_id", "long"), ("ts", "ts"), ("user_id", "long"),
        ("event_type", "string"), ("value", "double"),
        ("props", "string")])


def q_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement
    (operators/curation.py ``weighted_sample``, Efraimidis–Spirakis
    A-ES): top-25 documents per source with inclusion probability
    proportional to n_chars, the uniform drawn from the keyed md5 —
    reproducible across engines, which is exactly what the oracle
    verifies. One window shuffle on the stratum."""
    docs = _t(spark, sf, "documents")
    out = curation.weighted_sample(docs, "doc_id", "n_chars", 25,
                                   strata_col="source")
    return out.select("doc_id", "source",
                      F.col("n_chars").alias("weight"), "es_key", "rank")


ORACLE_WEIGHTED_SAMPLE = """
WITH u AS (
  SELECT doc_id, source, n_chars AS weight,
    (('0x' || substr(md5('wsample|' || doc_id::VARCHAR), 1, 15))::BIGINT
       % 1000000 + 0.5) / 1000000.0 AS u
  -- NULL contract (weighted_sample): the A-ES uniform is keyed on the
  -- id, so NULL-id rows have no key and are excluded
  FROM documents WHERE n_chars > 0 AND doc_id IS NOT NULL),
k AS (
  SELECT doc_id, source, weight,
    -- + 0 folds IEEE -0.0 to 0.0 (DuckDB round keeps the sign of a
    -- tiny negative rounding to zero; Spark's drops it — sf0.1 find)
    round(ln(u) / weight::DOUBLE, 6) + 0 AS es_key
  FROM u),
r AS (
  SELECT *, (row_number() OVER (PARTITION BY source
     ORDER BY es_key DESC, doc_id DESC))::INT AS rank
  FROM k)
SELECT doc_id, source, weight, es_key, rank FROM r WHERE rank <= 25
"""


def q_attribution(spark, sf):
    """Last-touch conversion attribution (streaming/raw_zone_stream.py
    ``attribute_conversions`` + ``last_touch``): every purchase joined
    to same-user clicks inside a 1-hour look-back via the watermarked
    stream-stream interval-join operator (running here on its batch
    twin — the unified-semantics code path), then folded to the latest
    click per conversion with a deterministic max(struct) tie-break.
    One hash join on user_id + one map-side-combined agg."""
    from zacks_estimates_financial_statements_spark.streaming.raw_zone_stream import (
        attribute_conversions, last_touch)
    ev = _t(spark, sf, "events")
    pairs = attribute_conversions(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        horizon="1 hour")
    out = last_touch(pairs)
    return out.select(
        "conversion_id", "user_id",
        F.unix_micros("conv_ts").alias("conv_ts_us"),
        "impression_id",
        F.unix_micros("imp_ts").alias("imp_ts_us"),
        "lag_us", "n_candidates")


ORACLE_ATTRIBUTION = """
WITH imp AS (
  SELECT event_id AS impression_id, user_id, ts AS imp_ts
  FROM events WHERE event_type = 'click'),
conv AS (
  SELECT event_id AS conversion_id, user_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT c.conversion_id, c.user_id, c.conv_ts, i.impression_id, i.imp_ts,
    row_number() OVER (PARTITION BY c.conversion_id
      ORDER BY i.imp_ts DESC, i.impression_id DESC) AS rn,
    count(*) OVER (PARTITION BY c.conversion_id) AS n_candidates
  FROM conv c
  JOIN imp i ON i.user_id = c.user_id
    AND i.imp_ts <= c.conv_ts
    AND i.imp_ts >= c.conv_ts - INTERVAL 1 HOUR)
SELECT conversion_id, user_id, epoch_us(conv_ts) AS conv_ts_us,
  impression_id, epoch_us(imp_ts) AS imp_ts_us,
  epoch_us(conv_ts) - epoch_us(imp_ts) AS lag_us,
  n_candidates::BIGINT AS n_candidates
FROM pairs WHERE rn = 1
"""


def q_gopher_gate(spark, sf):
    """Full Gopher quality-rule battery (Rae et al. 2021 §A1.1) as one
    zero-shuffle annotating projection (operators/curation.py
    ``gopher_gate``): word-count / mean-word-length bounds, symbol and
    bullet/ellipsis ratios, alpha-word fraction, distinct-stopword
    probe — one boolean per rule plus the conjunction ``keep``.
    min_stopwords=1 because the synthetic corpus carries at most one
    probe stopword per doc (still discriminative: 382 vs 118)."""
    docs = _t(spark, sf, "documents")
    return curation.gopher_gate(docs, "doc_id", "text", min_stopwords=1)


ORACLE_GOPHER_GATE = r"""
WITH m AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS w,
    length(text) - length(replace(text, chr(10), '')) + 1 AS n_lines,
    length(text) - length(replace(text, '#', '')) AS n_hash,
    (length(text) - length(replace(text, '...', ''))) / 3 AS n_dots,
    len(regexp_extract_all(text, '(?m)^[ 	]*[-*•]')) AS n_bul,
    len(regexp_extract_all(text, '\.\.\.[ 	]*(' || chr(10) || '|$)'))
      AS n_edots
  FROM documents),
s AS (
  SELECT doc_id,
    len(w) AS n_words,
    CASE WHEN len(w) > 0 THEN
      round(length(array_to_string(w, ''))::DOUBLE / len(w), 6)
    END AS mean_word_len,
    CASE WHEN len(w) > 0 THEN
      round((n_hash + n_dots)::DOUBLE / len(w), 6)
    END AS symbol_ratio,
    round(n_bul::DOUBLE / n_lines, 6) AS bullet_line_frac,
    round(n_edots::DOUBLE / n_lines, 6) AS ellipsis_line_frac,
    CASE WHEN len(w) > 0 THEN
      round(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE
            / len(w), 6)
    END AS alpha_word_frac,
    len(list_intersect(w, ['the','be','to','of','and','that','have',
                           'with'])) AS n_stopwords
  FROM m),
f AS (
  SELECT *,
    coalesce(n_words BETWEEN 50 AND 100000, false) AS ok_words,
    coalesce(mean_word_len BETWEEN 3.0 AND 10.0, false) AS ok_word_len,
    coalesce(symbol_ratio <= 0.1, false) AS ok_symbols,
    coalesce(bullet_line_frac <= 0.9, false) AS ok_bullets,
    coalesce(ellipsis_line_frac <= 0.3, false) AS ok_ellipsis,
    coalesce(alpha_word_frac >= 0.8, false) AS ok_alpha,
    coalesce(n_stopwords >= 1, false) AS ok_stopwords
  FROM s)
SELECT doc_id, n_words::INT AS n_words, mean_word_len, symbol_ratio,
  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
  n_stopwords::INT AS n_stopwords,
  ok_words, ok_word_len, ok_symbols, ok_bullets, ok_ellipsis, ok_alpha,
  ok_stopwords,
  (ok_words AND ok_word_len AND ok_symbols AND ok_bullets AND
   ok_ellipsis AND ok_alpha AND ok_stopwords) AS keep
FROM f
"""


def q_dsir_select(spark, sf):
    """DSIR importance resampling (operators/curation.py
    ``dsir_select``, arXiv:2302.03169): select the 100 raw-corpus docs
    whose hashed unigram+bigram profile best matches the English
    sub-corpus, via smoothed bucket-model log ratios + deterministic
    Gumbel-top-k. Token-linear featurization, bucket-bounded models,
    TakeOrdered selection."""
    docs = _t(spark, sf, "documents")
    return curation.dsir_select(
        docs, docs.filter(F.col("lang") == "en"), "doc_id", "text",
        n=100, buckets=4096)


# The SQL twin replays the whole chain: hashed gram buckets, the two
# smoothed bucket models, per-doc decimal-summed log weights, the
# keyed-md5 Gumbel keys, and the same (key DESC, doc_id) top-100 cut.
ORACLE_DSIR_SELECT = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                x -> x <> '') AS t,
    lang
  FROM documents),
grams AS (
  SELECT doc_id, lang, unnest(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS g
  FROM toks, unnest(range(1, len(t))) AS r(i)),
bucketed AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5('dsir|' || g), 1, 15))::BIGINT % 4096 AS bucket
  FROM grams),
feats AS (
  SELECT doc_id, bucket, count(*) AS c FROM bucketed GROUP BY 1, 2),
raw_tot AS (
  SELECT bucket, sum(c)::BIGINT AS cr FROM feats GROUP BY 1),
tgt_tot AS (
  SELECT bucket, count(*)::BIGINT AS ct FROM bucketed
  WHERE lang = 'en' GROUP BY 1),
consts AS (
  SELECT (SELECT sum(cr) FROM raw_tot) AS CR,
         (SELECT sum(ct) FROM tgt_tot) AS CT),
model AS (
  SELECT r.bucket,
    round(ln((coalesce(t.ct, 0) + 1.0) / (consts.CT + 1.0 * 4096)), 6)
    - round(ln((r.cr + 1.0) / (consts.CR + 1.0 * 4096)), 6) AS lr
  FROM raw_tot r LEFT JOIN tgt_tot t USING (bucket), consts),
weighted AS (
  SELECT f.doc_id,
    sum(f.c)::BIGINT AS n_grams,
    sum(round(f.c * m.lr, 6)::DECIMAL(38,6)) AS lw
  FROM feats f JOIN model m USING (bucket) GROUP BY 1),
scored AS (
  SELECT doc_id, n_grams,
    round(lw::DOUBLE, 6) AS log_weight,
    round(-ln(-ln(
      ((('0x' || substr(md5('gumbel|dsir|' || doc_id::VARCHAR), 1, 15))
        ::BIGINT % 1000000)::DOUBLE + 0.5) / 1000000)), 6) AS gumbel
  FROM weighted)
SELECT doc_id, n_grams, log_weight, gumbel,
  round(log_weight + gumbel, 6) AS key
FROM scored
ORDER BY key DESC, doc_id
LIMIT 100
"""


def q_perplexity_buckets(spark, sf):
    """CCNet-style head/middle/tail perplexity bucketing per language
    (operators/curation.py ``perplexity_buckets``, Wenzek et al. LREC
    2020): self-trained bigram-LM ppl, per-language tertile cuts
    (exact percentile = quantile_cont), 6-digit boundary compares."""
    docs = _t(spark, sf, "documents")
    return curation.perplexity_buckets(docs, "doc_id", "text", "lang")


# Composes the lm_perplexity twin: same ppl relation, then per-language
# quantile_cont tertiles and the identical boundary-rounded CASE.
ORACLE_PERPLEXITY_BUCKETS = f"""
WITH ppl_rel AS ({ORACLE_LM_PERPLEXITY}),
j AS (
  SELECT p.doc_id, d.lang, p.n_bigrams, p.ppl
  FROM ppl_rel p JOIN documents d USING (doc_id)),
cutrel AS (
  SELECT lang,
    round(quantile_cont(ppl, 1.0/3), 6) AS head_cut,
    round(quantile_cont(ppl, 2.0/3), 6) AS middle_cut
  FROM j GROUP BY lang)
SELECT j.doc_id, j.lang, j.n_bigrams, j.ppl, c.head_cut, c.middle_cut,
  CASE WHEN j.ppl <= c.head_cut THEN 'head'
       WHEN j.ppl <= c.middle_cut THEN 'middle'
       ELSE 'tail' END AS bucket
FROM j JOIN cutrel c USING (lang)
"""


def q_train_classifier(spark, sf):
    """Distributed full-batch logistic-regression training for the
    quality classifier (operators/curation.py
    ``train_quality_classifier``): hashed mean-pooled BoW features,
    3 GD steps on y = (lang == 'en'), decimal-routed gradients —
    the training half of ``classifier_score``'s inference tier."""
    docs = _t(spark, sf, "documents")
    labeled = docs.withColumn(
        "y", F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(0.0))
    return curation.train_quality_classifier(
        labeled, "doc_id", "text", "y", dim=4096, n_iter=3, lr=0.5)


def _oracle_train_classifier(n_iter: int) -> str:
    """Chained-CTE GD replay: each iteration's margins / residuals /
    gradients / weights as AS MATERIALIZED stages (the bpe_train
    lesson — DuckDB inlines plain CTEs at every reference)."""
    ctes = ["""toks0 AS MATERIALIZED (
  -- duplicate-id contract (train_quality_classifier, r10): ONE
  -- training example per id — verbatim copies collapse via DISTINCT,
  -- divergent-content copies resolve to the min-md5(token-string)
  -- version (label is the tie-break), mirroring the Spark winner
  SELECT DISTINCT * FROM (
    SELECT doc_id,
      list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                  x -> x <> '') AS t,
      CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
    FROM documents) WHERE len(t) > 0)""", """toks AS MATERIALIZED (
  SELECT doc_id, t, y FROM (
    SELECT doc_id, t, y, row_number() OVER (
      PARTITION BY doc_id
      ORDER BY md5(array_to_string(t, ' ')), y) AS rn
    FROM toks0) WHERE rn = 1)""", """labels AS MATERIALIZED (
  SELECT doc_id, y FROM toks WHERE len(t) > 0)""", """feats AS MATERIALIZED (
  -- _r6 (floor-form rounding): round(double, 6) resolves exact
  -- 7-digit halves differently across engines; floor(x*1e6 + 0.5) is
  -- pure IEEE, bit-identical (operator docstring, r10)
  SELECT doc_id, bucket,
    floor((count(*)::DOUBLE / any_value(n)) * 1000000 + 0.5)
      / 1000000.0 AS x
  FROM (
    SELECT doc_id, len(t) AS n,
      ('0x' || substr(md5(unnest(t)), 1, 15))::BIGINT % 4096 AS bucket
    FROM toks)
  GROUP BY doc_id, bucket)""", """consts AS MATERIALIZED (
  SELECT count(*)::BIGINT AS n_docs FROM labels)""", """w0 AS MATERIALIZED (
  SELECT DISTINCT bucket, 0.0::DOUBLE AS weight FROM feats)"""]
    prev = "w0"
    for i in range(1, n_iter + 1):
        ctes.append(f"""m{i} AS MATERIALIZED (
  SELECT f.doc_id,
    sum(round(f.x * w.weight, 12)::DECIMAL(38,12)) AS m
  FROM feats f JOIN {prev} w USING (bucket) GROUP BY f.doc_id)""")
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT l.doc_id,
    round(1.0 / (1.0 + exp(-(m.m::DOUBLE))), 6) - l.y AS r
  FROM m{i} m JOIN labels l USING (doc_id))""")
        ctes.append(f"""g{i} AS MATERIALIZED (
  SELECT f.bucket,
    floor((sum(round(f.x * r.r, 12)::DECIMAL(38,12))::DOUBLE
           / (SELECT n_docs FROM consts)) * 1000000 + 0.5)
      / 1000000.0 AS g
  FROM feats f JOIN r{i} r USING (doc_id) GROUP BY f.bucket)""")
        ctes.append(f"""w{i} AS MATERIALIZED (
  SELECT w.bucket,
    floor((w.weight - 0.5 * coalesce(g.g, 0.0)) * 1000000 + 0.5)
      / 1000000.0 AS weight
  FROM {prev} w LEFT JOIN g{i} g USING (bucket))""")
        prev = f"w{i}"
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT bucket, weight FROM {prev}")


def q_temperature_mixture(spark, sf):
    """Temperature-scaled (tau=2) language mixture shares
    (operators/curation.py ``temperature_mixture``, the mT5/XLM-R
    low-resource up-sampling formula): q proportional to p^(1/tau),
    tau>1 flattens toward uniform, plus the repeat/sample knobs to
    realize it."""
    docs = _t(spark, sf, "documents")
    return curation.temperature_mixture(docs, "lang", "text", tau=2.0)


ORACLE_TEMPERATURE_MIXTURE = """
WITH per AS (
  SELECT lang, count(*)::BIGINT AS n_docs,
    sum(len(list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                        x -> x <> '')))::BIGINT AS n_tokens
  FROM documents GROUP BY lang),
t AS (
  SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS total FROM per),
wrel AS (
  SELECT *, round(pow(n_tokens::DOUBLE / total, 1.0 / 2.0), 6) AS w
  FROM t),
srel AS (
  SELECT *, sum(w::DECIMAL(38,6)) OVER () AS sw FROM wrel),
q AS (
  SELECT *, round(w / (sw::DOUBLE), 6) AS temp_share FROM srel),
b AS (
  SELECT *, round(temp_share / (n_tokens::DOUBLE / total), 6)
    AS repeat_factor
  FROM q),
m AS (SELECT *, max(repeat_factor) OVER () AS bmax FROM b)
SELECT lang, n_docs, n_tokens,
  round(n_tokens::DOUBLE / total, 6) AS current_share,
  temp_share, repeat_factor,
  round(repeat_factor / bmax, 6) AS sample_rate
FROM m
"""


def q_random_projection(spark, sf):
    """JL random projection 64 -> 16 dims (operators/similarity.py
    ``random_projection``): deterministic Achlioptas sign matrix
    compiled to flat +/-element_at codegen chains, zero shuffles."""
    emb = _emb(spark, sf)
    return similarity.random_projection(emb, "vec_id", "embedding",
                                        in_dim=64, out_dim=16)


def _oracle_random_projection(in_dim: int, out_dim: int) -> str:
    """SQL twin generated from the SAME sign matrix (rp_signs) the
    operator compiles in, with every element cast to DOUBLE before the
    left-to-right fold (DuckDB would otherwise sum in float32)."""
    signs = similarity.rp_signs(in_dim, out_dim)
    inv_root = 1.0 / (out_dim ** 0.5)
    outs = []
    for j in range(out_dim):
        terms = "".join(
            ("+" if signs[i][j] > 0 else "-")
            + f"embedding[{i + 1}]::DOUBLE"
            for i in range(in_dim))
        outs.append(f"round(({terms}) * {inv_root!r}, 6) AS rp_{j}")
    cols = ",\n  ".join(outs)
    return f"SELECT vec_id,\n  {cols}\nFROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) embeddings"


def q_link_extract(spark, sf):
    """Outbound-link extraction (operators/extraction.py
    ``extract_links``): per-doc synthesized pages carry a messy
    double-quoted link (upper-case scheme/host/www, default port,
    tracking param, unsorted query, fragment), a mailto, an upper-case
    single-quoted link (port 80, trailing slash) and a relative href.
    The oracle derives the surviving (pos, raw) rows INDEPENDENTLY
    from the synthesis arithmetic — extraction, the http(s) gate and
    position semantics must implement the spec to match. The CANONICAL
    column mirrors web.canonical_url since r11 (_canon_url_ctes; see
    q_url_dedup) — the canonicalizer spec is covered by the clean-input
    probe (tools/spec_probe.py) and tests/test_web.py."""
    from zacks_estimates_financial_statements_spark.operators import extraction

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<html><body><p>intro</p><a class="m" href="HTTPS://WWW.'),
        F.col("source"), F.lit(".Example.COM:443/Art/"),
        F.expr("doc_id DIV 10").cast("string"),
        F.lit('?utm_campaign=z&z=2&a=1#top">first</a>'),
        F.lit('<a href="mailto:x@y.z">mail</a>'),
        F.lit("<A HREF='http://h"), (d % 7).cast("string"),
        F.lit(".test.org:80/p/"), (d % 13).cast("string"),
        F.lit("/'>second</A><a href='/rel/path'>rel</a></body></html>"))
    return extraction.extract_links(
        docs.select("doc_id", html.alias("page")), "doc_id", "page")


# r11 Unicode contract: the canonical side now MIRRORS
# web.canonical_url (real parse via _canon_url_ctes) instead of the
# closed form — a fuzzed `source` can carry '/', which moves the
# host/path boundary, and hostname lowering is ASCII-only (RFC 4343).
# The RAW url and the position arithmetic stay independently derived.
ORACLE_LINK_EXTRACT = f"""
WITH links AS (
  -- NULL contract: a NULL doc_id or source null-propagates through the
  -- Spark-side page concat, so the whole synthesized page is NULL and
  -- extract_links emits nothing for that doc
  SELECT doc_id, CAST(1 AS INT) AS link_pos,
    'HTTPS://WWW.' || source || '.Example.COM:443/Art/' || (doc_id // 10)
      || '?utm_campaign=z&z=2&a=1#top' AS u
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
  UNION ALL
  SELECT doc_id, CAST(3 AS INT) AS link_pos,
    'http://h' || (doc_id % 7) || '.test.org:80/p/' || (doc_id % 13)
      || '/' AS u
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL),{_canon_url_ctes("links", "doc_id, link_pos")}
SELECT doc_id, link_pos, u AS url, canon AS canonical_url
FROM __cu3
"""


def q_semantic_decontaminate(spark, sf):
    """Embedding-tier decontamination (operators/curation.py
    ``semantic_contamination``): benchmark = the 20 lowest vec_ids,
    corpus = every embedding; per corpus vector the max cosine to any
    non-self benchmark item (ties -> smallest bench id), flagged at
    0.35 (the empirical p95 of this corpus — non-vacuous on synthetic
    embeddings). Broadcast-bench cross scoring + ONE map-side max_by."""
    emb = _emb(spark, sf)
    bench = _emb1(spark, sf).orderBy("vec_id").limit(20)
    return curation.semantic_contamination(
        emb, bench, "vec_id", "embedding", threshold=0.35)


ORACLE_SEMANTIC_DECONTAMINATE = f"""
WITH b AS (
  SELECT vec_id AS bid, embedding AS bvec FROM (SELECT vec_id, embedding FROM (
    SELECT vec_id, embedding, count(*) OVER (PARTITION BY vec_id) AS nv
    FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
   WHERE nv = 1) embeddings
  ORDER BY vec_id LIMIT 20),
scored AS (
  SELECT e.vec_id, b.bid,
    round({_COS_SQL.format(a='e.embedding', b='b.bvec')}, 6) AS cos
  FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e CROSS JOIN b
  WHERE e.vec_id <> b.bid),
best AS (
  SELECT vec_id, cos AS max_cosine, bid AS nearest_bench_id
  FROM (SELECT vec_id, cos, bid,
          row_number() OVER (PARTITION BY vec_id
                             ORDER BY cos DESC, bid) AS rn
        FROM scored WHERE cos IS NOT NULL)
  WHERE rn = 1)
SELECT e.vec_id, best.max_cosine, best.nearest_bench_id,
  coalesce(best.max_cosine >= 0.35, FALSE) AS contaminated
FROM (SELECT * FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL) e LEFT JOIN best USING (vec_id)
"""


def q_retrieval_metrics(spark, sf):
    """IR evaluation panel (operators/retrieval.py
    ``retrieval_metrics``): nDCG@10 / recall@10 / precision@10 / MRR
    per query over a deterministic synthetic run — queries are
    ``doc_id % 5`` strata, the "retrieved" list is each stratum's 10
    lowest doc_ids, qrels grade every third document
    1 + (doc_id DIV 3) % 3. Bounded-relation joins/windows only."""
    docs = _t(spark, sf, "documents")
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy("doc_id")
    results = (docs.select((F.col("doc_id") % 5).alias("query_id"),
                           "doc_id")
               .withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= 10))
    qrels = (docs.filter(F.col("doc_id") % 3 == 0)
             .select((F.col("doc_id") % 5).alias("query_id"), "doc_id",
                     (1 + (F.col("doc_id") / 3).cast("bigint") % 3)
                     .alias("grade")))
    from zacks_estimates_financial_statements_spark.operators import retrieval
    return retrieval.retrieval_metrics(results, qrels, k=10)


ORACLE_RETRIEVAL_METRICS = """
WITH results AS (
  SELECT doc_id % 5 AS query_id, doc_id,
    row_number() OVER (PARTITION BY doc_id % 5 ORDER BY doc_id) AS rank
  FROM documents QUALIFY rank <= 10),
qrels AS (
  SELECT doc_id % 5 AS query_id, doc_id,
    1 + (doc_id // 3) % 3 AS grade
  FROM documents WHERE doc_id % 3 = 0),
graded AS (
  SELECT r.query_id, r.rank, coalesce(q.grade, 0) AS g
  FROM results r LEFT JOIN qrels q USING (query_id, doc_id)),
per_q AS (
  SELECT query_id,
    sum(CASE WHEN g > 0 THEN 1 ELSE 0 END)::BIGINT AS hits_at_k,
    sum(round((pow(2.0, g) - 1.0) / log2(rank + 1.0), 6)
        ::DECIMAL(38,6)) AS dcg,
    min(CASE WHEN g > 0 THEN rank END) AS first_rel
  FROM graded GROUP BY 1),
ideal AS (
  SELECT query_id,
    sum(round((pow(2.0, grade) - 1.0) / log2(ir + 1.0), 6)
        ::DECIMAL(38,6)) AS idcg
  FROM (SELECT query_id, grade,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY grade DESC, doc_id) AS ir
        FROM qrels WHERE grade > 0)
  WHERE ir <= 10 GROUP BY 1),
nrel AS (
  SELECT query_id, count(*)::BIGINT AS n_relevant
  FROM qrels WHERE grade > 0 GROUP BY 1)
SELECT p.query_id,
  coalesce(n.n_relevant, 0)::BIGINT AS n_relevant,
  p.hits_at_k,
  round(p.hits_at_k / n.n_relevant, 6) AS recall_at_k,
  round(p.hits_at_k / 10.0, 6) AS precision_at_k,
  round(coalesce(1.0 / p.first_rel, 0.0), 6) AS mrr,
  round((p.dcg / i.idcg)::DOUBLE, 6) AS ndcg_at_k
FROM per_q p LEFT JOIN ideal i USING (query_id)
LEFT JOIN nrel n USING (query_id)
"""


def q_distribution_drift(spark, sf):
    """PSI / KL corpus-drift monitor (operators/profiling.py
    ``distribution_drift``): even-doc_id half as the reference
    snapshot, odd half as current, per-language smoothed share deltas.
    Two map-side-combined counts + bucket-cardinality join."""
    from zacks_estimates_financial_statements_spark.operators import profiling
    docs = _t(spark, sf, "documents")
    return profiling.distribution_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1), "lang")


ORACLE_DISTRIBUTION_DRIFT = """
WITH r AS (
  SELECT lang AS bucket, count(*)::BIGINT AS n_ref FROM documents
  WHERE doc_id % 2 = 0 GROUP BY 1),
c AS (
  SELECT lang AS bucket, count(*)::BIGINT AS n_cur FROM documents
  WHERE doc_id % 2 = 1 GROUP BY 1),
j AS (
  SELECT coalesce(r.bucket, c.bucket) AS bucket,
    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
  FROM r FULL OUTER JOIN c ON r.bucket = c.bucket),
tot AS (
  SELECT sum(n_ref) AS tr, sum(n_cur) AS tc, count(*) AS b FROM j),
pq AS (
  SELECT bucket, n_ref, n_cur,
    round((n_ref + 0.5) / (tot.tr + 0.5 * tot.b), 6) AS p_ref,
    round((n_cur + 0.5) / (tot.tc + 0.5 * tot.b), 6) AS p_cur
  FROM j, tot)
SELECT bucket, n_ref, n_cur, p_ref, p_cur,
  round((p_cur - p_ref) * (round(ln(p_cur), 6) - round(ln(p_ref), 6)),
        6) AS psi,
  round(p_cur * (round(ln(p_cur), 6) - round(ln(p_ref), 6)), 6) AS kl
FROM pq
"""


def q_unigram_vocab(spark, sf):
    """Unigram-LM seed vocabulary (functions/tokenize.py
    ``unigram_seed_vocab``, Kudo ACL 2018): all single chars + the 20
    hottest multi-char substrings (len<=4) of the corpus words with
    -ln(freq/total) costs. Substring explode runs on the distinct-word
    relation; the multi cut is a TakeOrdered, the total a 1-row
    scalar attach."""
    docs = _t(spark, sf, "documents")
    return tokenize.unigram_seed_vocab(docs, "text", vocab_size=20,
                                       max_piece_len=4)


_UNIGRAM_VOCAB_CTES = """
wtok AS (
  SELECT unnest(list_filter(
    string_split_regex(lower(text), '[^a-z0-9_]+'), x -> x <> '')) AS w
  FROM documents),
uwords AS (SELECT w, count(*)::BIGINT AS wf FROM wtok GROUP BY w),
usubs AS (
  SELECT substr(uwords.w, i.i, l.l) AS piece, wf
  FROM uwords,
       unnest(range(1, len(uwords.w) + 1)) i(i),
       unnest(range(1, least(4, len(uwords.w) - i.i + 1) + 1)) l(l)),
ufreqs AS (
  SELECT piece, sum(wf)::BIGINT AS freq FROM usubs GROUP BY piece),
usel AS MATERIALIZED (
  SELECT piece, freq FROM ufreqs WHERE len(piece) = 1
  UNION ALL
  SELECT piece, freq FROM (
    SELECT piece, freq FROM ufreqs WHERE len(piece) >= 2
    ORDER BY freq DESC, piece LIMIT 20)),
utot AS (SELECT sum(freq)::DOUBLE AS t FROM usel),
uvocab AS MATERIALIZED (
  SELECT piece, freq, round(-ln(freq / utot.t), 6) AS cost
  FROM usel, utot)"""

ORACLE_UNIGRAM_VOCAB = f"""
WITH {_UNIGRAM_VOCAB_CTES}
SELECT piece, freq, cost FROM uvocab
"""


def q_unigram_encode(spark, sf):
    """Viterbi unigram segmentation (functions/tokenize.py
    ``unigram_encode``): min-cost subword split of every document
    under the corpus-trained seed vocabulary — the SentencePiece
    inference rule, third tokenizer tier next to wordpiece (greedy)
    and BPE (merge replay). The DP runs as two array folds on the
    distinct-word relation; the twin replays it as a 16-level chained
    MATERIALIZED-CTE dynamic program with identical rounding and the
    identical longest-piece tie-break."""
    docs = _t(spark, sf, "documents")
    vocab = tokenize.unigram_seed_vocab(docs, "text", vocab_size=20,
                                        max_piece_len=4,
                                        cache_freqs=True)
    return tokenize.unigram_encode(docs, "doc_id", "text", vocab)


_UNIGRAM_DW_CTES = """
dw AS MATERIALIZED (
  SELECT w, len(w)::INT AS n FROM (SELECT DISTINCT w FROM wtok)),
umsub AS MATERIALIZED (
  SELECT dw.w, i.i - 1 AS s, (i.i - 1 + l.l)::INT AS e,
         substr(dw.w, i.i, l.l) AS piece
  FROM dw,
       unnest(range(1, dw.n)) i(i),
       unnest(range(2, least(4, dw.n - i.i + 1) + 1)) l(l)),
ussub AS MATERIALIZED (
  SELECT dw.w, i.i - 1 AS s, i.i::INT AS e,
         substr(dw.w, i.i, 1) AS piece
  FROM dw, unnest(range(1, dw.n + 1)) i(i))"""


def _unigram_dp_ctes(sfx: str, vocab_cte: str, w_max: int,
                     unk: float) -> str:
    """One Viterbi pass as chained MATERIALIZED CTEs: candidates from
    ``vocab_cte``, ``w_max`` forward (min/argmin/union) stages, then
    ``w_max`` backtrack stages ending at ``bt{w_max}{sfx}`` — covers
    words up to ``w_max`` chars (corpus max is 8). Tie-break =
    min(start) among minimal rounded totals == Spark's
    first-candidate-in-(e, s)-order rule. ``sfx`` namespaces the pass
    so the EM trainer can chain several."""
    parts = [f"""
cand{sfx} AS MATERIALIZED (
  SELECT m.w, m.s::INT AS s, m.e, v.cost
  FROM umsub m JOIN {vocab_cte} v ON v.piece = m.piece
  WHERE len(v.piece) >= 2
  UNION ALL
  SELECT s1.w, s1.s::INT AS s, s1.e,
         coalesce(v.cost, {unk!r}::DOUBLE) AS cost
  FROM ussub s1 LEFT JOIN {vocab_cte} v ON v.piece = s1.piece),
dpa0{sfx} AS MATERIALIZED (
  SELECT w, 0::INT AS pos, 0.0::DOUBLE AS c, -1::INT AS b FROM dw)"""]
    for j in range(1, w_max + 1):
        parts.append(f"""
cj{j}{sfx} AS MATERIALIZED (
  SELECT c.w, round(d.c + c.cost, 6) AS total, c.s
  FROM cand{sfx} c JOIN dpa{j - 1}{sfx} d
    ON d.w = c.w AND d.pos = c.s
  WHERE c.e = {j}),
mj{j}{sfx} AS (SELECT w, min(total) AS c FROM cj{j}{sfx} GROUP BY w),
dj{j}{sfx} AS (
  SELECT c.w, {j}::INT AS pos, m.c AS c, min(c.s)::INT AS b
  FROM cj{j}{sfx} c JOIN mj{j}{sfx} m
    ON c.w = m.w AND c.total = m.c
  GROUP BY c.w, m.c),
dpa{j}{sfx} AS MATERIALIZED (
  SELECT * FROM dpa{j - 1}{sfx} UNION ALL SELECT * FROM dj{j}{sfx})""")
    parts.append(f"""
bt0{sfx} AS MATERIALIZED (
  SELECT w, n::INT AS pos, []::VARCHAR[] AS ps FROM dw)""")
    for j in range(1, w_max + 1):
        parts.append(f"""
bt{j}{sfx} AS MATERIALIZED (
  SELECT b.w,
    CASE WHEN b.pos <= 0 THEN b.pos ELSE d.b END AS pos,
    CASE WHEN b.pos <= 0 THEN b.ps
         ELSE list_prepend(substr(b.w, d.b + 1, b.pos - d.b), b.ps)
    END AS ps
  FROM bt{j - 1}{sfx} b
  LEFT JOIN dpa{w_max}{sfx} d ON d.w = b.w AND d.pos = b.pos)""")
    return ",".join(parts)


def _oracle_unigram_encode(w_max: int = 16) -> str:
    """Encode twin: seed vocab + one Viterbi pass + per-doc
    reassembly (see ``_unigram_dp_ctes``)."""
    tail = f""",
enc AS (SELECT w, ps AS p FROM bt{w_max}),
wls AS (
  SELECT doc_id, list_filter(
    string_split_regex(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS wl
  FROM documents),
docw AS (
  SELECT doc_id, g.i AS wp, wl[g.i] AS w
  FROM wls, generate_series(1, 256) g(i)
  WHERE g.i <= len(wl)),
agg AS (
  -- ORDER BY (wp, p): Spark reassembles via array_sort over
  -- (position, pieces) structs, so position TIES across colliding-id
  -- versions (r12 extreme dial mints several rows per id) break by
  -- the piece list, not by physical row order
  SELECT d.doc_id, flatten(list(e.p ORDER BY d.wp, e.p)) AS pieces
  FROM docw d JOIN enc e USING (w) GROUP BY d.doc_id)
SELECT w.doc_id, coalesce(a.pieces, []::VARCHAR[]) AS pieces,
  coalesce(len(a.pieces), 0)::INT AS n_pieces
FROM wls w LEFT JOIN agg a USING (doc_id)"""
    return ("WITH " + _UNIGRAM_VOCAB_CTES + "," + _UNIGRAM_DW_CTES + ","
            + _unigram_dp_ctes("", "uvocab", w_max, 20.0) + tail)


def q_unigram_train(spark, sf):
    """Hard-EM unigram-LM training (functions/tokenize.py
    ``unigram_train``, Kudo ACL 2018 §3.2): seed vocab, then 2 EM
    rounds of Viterbi-segment -> re-count -> prune-unused-multi ->
    re-cost. The twin replays BOTH Viterbi passes as namespaced
    16-level chained-CTE programs plus the count/prune/re-cost
    algebra — every EM iterate is bit-reproduced."""
    docs = _t(spark, sf, "documents")
    return tokenize.unigram_train(docs, "text", vocab_size=20,
                                  max_piece_len=4, n_iters=2)


def _oracle_unigram_train(w_max: int = 16, n_iters: int = 2) -> str:
    parts = []
    for t in range(1, n_iters + 1):
        vcte = "uvocab" if t == 1 else f"vocab{t - 1}"
        parts.append(_unigram_dp_ctes(f"_{t}", vcte, w_max, 1e9))
        parts.append(f"""
used{t} AS MATERIALIZED (
  SELECT p.piece, sum(uw.wf)::BIGINT AS count
  FROM (SELECT w, unnest(ps) AS piece FROM bt{w_max}_{t}) p
  JOIN uwords uw ON uw.w = p.w
  GROUP BY p.piece),
sel{t} AS MATERIALIZED (
  SELECT v.piece,
    greatest(coalesce(u.count, 0::BIGINT), 1::BIGINT) AS count
  FROM {vcte} v LEFT JOIN used{t} u ON u.piece = v.piece
  WHERE len(v.piece) = 1
  UNION ALL
  SELECT piece, count FROM used{t} WHERE len(piece) >= 2),
tot{t} AS (SELECT sum(count)::DOUBLE AS t FROM sel{t}),
vocab{t} AS MATERIALIZED (
  SELECT piece, count, round(-ln(count / tot{t}.t), 6) AS cost
  FROM sel{t}, tot{t})""")
    return ("WITH " + _UNIGRAM_VOCAB_CTES + "," + _UNIGRAM_DW_CTES + ","
            + ",".join(parts)
            + f"\nSELECT piece, count, cost FROM vocab{n_iters}")


def q_table_extract(spark, sf):
    """Generic HTML table extraction (operators/extraction.py
    ``extract_tables``): per-doc synthesized pages carry a
    thead/tbody financial-style table (trim + inline-markup cells
    derived from doc_id arithmetic) and a bare second table; the
    oracle derives every (table, row, col, cell) INDEPENDENTLY from
    the synthesis arithmetic, so DOM walking, section flattening,
    1-based positional semantics and text trimming must all implement
    the spec to match."""
    from zacks_estimates_financial_statements_spark.operators import extraction

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    page = F.concat(
        F.lit("<html><body><table><thead><tr><th>metric</th>"
              "<th>value</th></tr></thead><tbody><tr><td>rev</td><td>"),
        (F.pmod(d, F.lit(1_000_000_000_000)) * 3).cast("string"),
        F.lit("</td></tr><tr><td> eps </td><td><b>"),
        (d % 7).cast("string"), F.lit("</b>."), (d % 10).cast("string"),
        F.lit("</td></tr></tbody></table><table><tr><td>a"),
        (d % 5).cast("string"),
        F.lit("</td><td> b </td></tr></table></body></html>"))
    return extraction.extract_tables(
        docs.select("doc_id", page.alias("page")), "doc_id", "page")


ORACLE_TABLE_EXTRACT = """
SELECT doc_id, 1::INT AS table_idx, 1::INT AS row_idx, 1::INT AS col_idx,
       -- NULL contract: NULL doc_id null-propagates the page concat
       'metric' AS cell FROM documents WHERE doc_id IS NOT NULL
UNION ALL SELECT doc_id, 1, 1, 2, 'value' FROM documents WHERE doc_id IS NOT NULL
UNION ALL SELECT doc_id, 1, 2, 1, 'rev' FROM documents WHERE doc_id IS NOT NULL
UNION ALL SELECT doc_id, 1, 2, 2,
  (((doc_id % 1000000000000 + 1000000000000) % 1000000000000) * 3)::VARCHAR
  FROM documents WHERE doc_id IS NOT NULL
UNION ALL SELECT doc_id, 1, 3, 1, 'eps' FROM documents WHERE doc_id IS NOT NULL
UNION ALL SELECT doc_id, 1, 3, 2,
  (doc_id % 7)::VARCHAR || '.' || (doc_id % 10)::VARCHAR FROM documents WHERE doc_id IS NOT NULL
UNION ALL SELECT doc_id, 2, 1, 1, 'a' || (doc_id % 5)::VARCHAR
  FROM documents WHERE doc_id IS NOT NULL
UNION ALL SELECT doc_id, 2, 1, 2, 'b' FROM documents WHERE doc_id IS NOT NULL
"""


def q_warc_roundtrip(spark, sf):
    """WARC record-source attestation (sources/warc.py, the r9-verdict
    sanctioned crawl-source extension): every addressable document
    serializes into sharded multi-member ``.warc.gz`` bytes on the
    executors (deterministic gzip, mtime=0) and the record scanner
    parses them back — doc id from the target URI, payload byte-exact,
    per-record byte lengths. The oracle derives the same relation
    directly from ``documents``, so a gzip-framing, WARC-grammar, or
    payload-slicing defect flips the value hash (the
    ``synthesize_hashable_audio`` pattern applied to the container).
    Duplicate/conflict contract: records are PER PHYSICAL ROW — every
    copy becomes its own record and its own output row (multiset
    amplification, both engines identically); NULL id = unaddressable
    (no URI), NULL text serializes as the empty payload."""
    from zacks_estimates_financial_statements_spark import util as _util
    from zacks_estimates_financial_statements_spark.sources import warc as W

    _util.ensure_package_on_executors(spark)
    docs = _t(spark, sf, "documents")
    rows = (docs.filter(F.col("doc_id").isNotNull())
            .select("doc_id",
                    F.coalesce(F.col("text"), F.lit("")).alias("text"),
                    F.pmod(F.col("doc_id"), F.lit(16)).alias("__shard")))

    def build(key, pdf):
        import pandas as pd

        from zacks_estimates_financial_statements_spark.sources.warc import (
            build_warc_bytes,
        )

        recs = [{"warc_type": "resource",
                 "target_uri": f"https://ex.invalid/doc/{int(d)}",
                 "record_id": f"<urn:doc:{int(d)}>",
                 "content_type": "text/plain",
                 "payload": t.encode("utf-8")}
                for d, t in zip(pdf["doc_id"], pdf["text"])]
        return pd.DataFrame(
            [{"path": f"mem://{int(key[0])}.warc.gz",
              "content": build_warc_bytes(recs)}])

    blobs = rows.groupBy("__shard").applyInPandas(
        build, "path string, content binary")
    parsed = W.parse_warc_blobs(blobs)
    # -? in the id recovery (r12 extreme dial): negative ids are
    # addressable and must survive the URI roundtrip
    return parsed.select(
        F.regexp_extract("target_uri", r"/doc/(-?\d+)$", 1)
        .try_cast("bigint").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("content_length").alias("n_bytes"),
        F.decode(F.col("payload"), "UTF-8").alias("text"))


ORACLE_WARC_ROUNDTRIP = """
SELECT doc_id,
  'https://ex.invalid/doc/' || doc_id AS url,
  strlen(coalesce(text, ''))::BIGINT AS n_bytes,
  coalesce(text, '') AS text
-- NULL contract: NULL id = unaddressable; NULL text -> empty payload.
-- Copies (verbatim or conflicting) are per-physical-row records.
FROM documents WHERE doc_id IS NOT NULL
"""


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "filter_predicates": q_filter_predicates,
    "scalar_subquery_latest": q_scalar_subquery_latest,
    "range_filter": q_range_filter,
    "symbol_universe": q_symbol_universe,
    "export_text": q_export_text,
    "cell_grammar": q_cell_grammar,
    "date_arithmetic": q_date_arithmetic,
    "rank_to_int": q_rank_to_int,
    "pricing_summary": q_pricing_summary,
    "bool_and_guard": q_bool_and_guard,
    "grouped_max_projection": q_grouped_max_projection,
    "distinct_dates": q_distinct_dates,
    "star_join": q_star_join,
    "range_join": q_range_join,
    "keep_latest_antijoin": q_keep_latest_antijoin,
    "union_distinct": q_union_distinct,
    "keep_latest_window": q_keep_latest_window,
    "upsert_ignore": q_upsert_ignore,
    "replace_window": q_replace_window,
    "stale_cleanup": q_stale_cleanup,
    "exact_dedup": q_exact_dedup,
    "minhash_signatures": q_minhash_signatures,
    "minhash_near_dup_pairs": q_minhash_near_dup_pairs,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "topk_cosine": q_topk_cosine,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "sessionize_batch": q_sessionize_batch,
    "windowed_counts": q_windowed_counts,
    "stream_dedup": q_stream_dedup,
    "approx_distinct": q_approx_distinct,
    "approx_quantiles": q_approx_quantiles,
    "json_extract": q_json_extract,
    "embedding_near_dup": q_embedding_near_dup,
    "semantic_dedup": q_semantic_dedup,
    "text_stats": q_text_stats,
    "language_id": q_language_id,
    "clean_corpus": q_clean_corpus,
    "fingerprint": q_fingerprint,
    "winnow_fingerprint": q_winnow_fingerprint,
    "dataset_split": q_dataset_split,
    "stratified_sample": q_stratified_sample,
    "repetition_stats": q_repetition_stats,
    "token_frequencies": q_token_frequencies,
    "dedup_clusters": q_dedup_clusters,
    "decontaminate": q_decontaminate,
    "pii_scan": q_pii_scan,
    "chunk_tokens": q_chunk_tokens,
    "wordpiece_encode": q_wordpiece_encode,
    "classifier_score": q_classifier_score,
    "html_to_text": q_html_to_text,
    "paragraph_dedup": q_paragraph_dedup,
    "bm25_search": q_bm25_search,
    "topic_summaries": q_topic_summaries,
    "split_leakage": q_split_leakage,
    "pack_sequences": q_pack_sequences,
    "mixture_plan": q_mixture_plan,
    "quantile_gate": q_quantile_gate,
    "token_budget_fill": q_token_budget_fill,
    "curate_pipeline": q_curate_pipeline,
    "cross_modal_pairs": q_cross_modal_pairs,
    "media_metadata": q_media_metadata,
    "media_phash_pairs": q_media_phash_pairs,
    "video_frames": q_video_frames,
    "asof_join": q_asof_join,
    "repeated_spans": q_repeated_spans,
    "time_rollup": q_time_rollup,
    "url_dedup": q_url_dedup,
    "domain_quota": q_domain_quota,
    "quantize_embeddings": q_quantize_embeddings,
    "incremental_dedup": q_incremental_dedup,
    "corpus_report": q_corpus_report,
    "lm_perplexity": q_lm_perplexity,
    "heavy_hitters": q_heavy_hitters,
    "attribution": q_attribution,
    "weighted_sample": q_weighted_sample,
    "profile_table": q_profile_table,
    "zorder_key": q_zorder_key,
    "robust_outliers": q_robust_outliers,
    "fuzzy_match": q_fuzzy_match,
    "pagerank": q_pagerank,
    "bpe_train": q_bpe_train,
    "char_entropy": q_char_entropy,
    "video_near_dup": q_video_near_dup,
    "containment_pairs": q_containment_pairs,
    "audio_near_dup": q_audio_near_dup,
    "hybrid_search": q_hybrid_search,
    "incremental_cc": q_incremental_cc,
    "chunk_overlap": q_chunk_overlap,
    "funnel": q_funnel,
    "retention": q_retention,
    "correlation": q_correlation,
    "media_curate": q_media_curate,
    "standardize": q_standardize,
    "histogram": q_histogram,
    "tfidf_pairs": q_tfidf_pairs,
    "domain_quota_skewsafe": q_domain_quota_skewsafe,
    "bpe_encode": q_bpe_encode,
    "bloom_semi_join": q_bloom_semi_join,
    "pq_adc_topk": q_pq_adc_topk,
    "leakage_safe_split": q_leakage_safe_split,
    "hard_negatives": q_hard_negatives,
    "gopher_gate": q_gopher_gate,
    "dsir_select": q_dsir_select,
    "perplexity_buckets": q_perplexity_buckets,
    "train_classifier": q_train_classifier,
    "temperature_mixture": q_temperature_mixture,
    "random_projection": q_random_projection,
    "link_extract": q_link_extract,
    "semantic_decontaminate": q_semantic_decontaminate,
    "retrieval_metrics": q_retrieval_metrics,
    "distribution_drift": q_distribution_drift,
    "kn_perplexity": q_kn_perplexity,
    "unigram_vocab": q_unigram_vocab,
    "unigram_encode": q_unigram_encode,
    "unigram_train": q_unigram_train,
    "table_extract": q_table_extract,
    "drop_repeated_spans": q_drop_repeated_spans,
    "url_filter": q_url_filter,
    "c4_clean": q_c4_clean,
    "politeness_schedule": q_politeness_schedule,
    "schedule_fetches_stream": q_schedule_fetches_stream,
    "pmi_collocations": q_pmi_collocations,
    "phrase_search": q_phrase_search,
    "margin_topk": q_margin_topk,
    "cdc_chunks": q_cdc_chunks,
    "calibration_bins": q_calibration_bins,
    "registrable_domain": q_registrable_domain,
    "tokenizer_fertility": q_tokenizer_fertility,
    "ascii_fold": q_ascii_fold,
    "robots_check": q_robots_check,
    "corpus_diff": q_corpus_diff,
    "split_sentences": q_split_sentences,
    "decontaminate_spans": q_decontaminate_spans,
    "normalize_punct": q_normalize_punct,
    "mojibake": q_mojibake,
    "epoch_plan": q_epoch_plan,
    "code_score": q_code_score,
    "url_features": q_url_features,
    "script_profile": q_script_profile,
    "k_anonymity": q_k_anonymity,
    "label_propagation": q_label_propagation,
    "ngram_diversity": q_ngram_diversity,
    "novelty_score": q_novelty_score,
    "readability": q_readability,
    "embedding_diversity": q_embedding_diversity,
    "warc_roundtrip": q_warc_roundtrip,
}

_ORACLE: dict[str, str] = {
    "filter_predicates": ORACLE_FILTER_PREDICATES,
    "scalar_subquery_latest": ORACLE_SCALAR_SUBQUERY,
    "range_filter": ORACLE_RANGE_FILTER,
    "symbol_universe": ORACLE_SYMBOL_UNIVERSE,
    "export_text": ORACLE_EXPORT_TEXT,
    "cell_grammar": ORACLE_CELL_GRAMMAR,
    "date_arithmetic": ORACLE_DATE_ARITHMETIC,
    "rank_to_int": ORACLE_RANK_TO_INT,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "bool_and_guard": ORACLE_BOOL_AND,
    "grouped_max_projection": ORACLE_GROUPED_MAX,
    "distinct_dates": ORACLE_DISTINCT,
    "star_join": ORACLE_STAR_JOIN,
    "range_join": ORACLE_RANGE_JOIN,
    "keep_latest_antijoin": ORACLE_KEEP_LATEST,
    "union_distinct": ORACLE_UNION_DISTINCT,
    "keep_latest_window": ORACLE_KEEP_LATEST_WINDOW,
    "upsert_ignore": ORACLE_UPSERT_IGNORE,
    "replace_window": ORACLE_REPLACE_WINDOW,
    "stale_cleanup": ORACLE_STALE_CLEANUP,
    "exact_dedup": ORACLE_EXACT_DEDUP,
    "minhash_signatures": ORACLE_MINHASH_SIGS,
    "minhash_near_dup_pairs": ORACLE_MINHASH_PAIRS,
    "simhash": ORACLE_SIMHASH,
    "simhash_pairs": ORACLE_SIMHASH_PAIRS,
    "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD,
    "topk_cosine": ORACLE_TOPK_COSINE,
    "ann_lsh_topk": ORACLE_ANN_LSH_TOPK,
    "ann_ivf_topk": ORACLE_ANN_IVF_TOPK,
    "sessionize_batch": ORACLE_SESSIONIZE,
    "windowed_counts": ORACLE_WINDOWED_COUNTS,
    "stream_dedup": ORACLE_STREAM_DEDUP,
    "approx_distinct": ORACLE_APPROX_DISTINCT,
    "approx_quantiles": ORACLE_APPROX_QUANTILES,
    "json_extract": ORACLE_JSON_EXTRACT,
    "embedding_near_dup": ORACLE_EMBEDDING_NEAR_DUP,
    "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "text_stats": ORACLE_TEXT_STATS,
    "language_id": ORACLE_LANGUAGE_ID,
    "clean_corpus": ORACLE_CLEAN_CORPUS,
    "fingerprint": ORACLE_FINGERPRINT,
    "winnow_fingerprint": ORACLE_WINNOW_FINGERPRINT,
    "dataset_split": _oracle_dataset_split(),
    "stratified_sample": _oracle_stratified_sample(),
    "repetition_stats": ORACLE_REPETITION_STATS,
    "token_frequencies": ORACLE_TOKEN_FREQUENCIES,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "decontaminate": ORACLE_DECONTAMINATE,
    "pii_scan": _oracle_pii_scan(),
    "chunk_tokens": ORACLE_CHUNK_TOKENS,
    "wordpiece_encode": ORACLE_WORDPIECE_ENCODE,
    "classifier_score": ORACLE_CLASSIFIER_SCORE,
    "html_to_text": ORACLE_HTML_TO_TEXT,
    "paragraph_dedup": ORACLE_PARAGRAPH_DEDUP,
    "bm25_search": ORACLE_BM25_SEARCH,
    "topic_summaries": ORACLE_TOPIC_SUMMARIES,
    "split_leakage": ORACLE_SPLIT_LEAKAGE,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "mixture_plan": _oracle_mixture_plan(),
    "quantile_gate": ORACLE_QUANTILE_GATE,
    "token_budget_fill": ORACLE_TOKEN_BUDGET_FILL,
    "curate_pipeline": ORACLE_CURATE_PIPELINE,
    "cross_modal_pairs": ORACLE_CROSS_MODAL_PAIRS,
    "media_metadata": ORACLE_MEDIA_METADATA,
    "video_frames": ORACLE_VIDEO_FRAMES,
    "media_phash_pairs": ORACLE_MEDIA_PHASH_PAIRS,
    "video_near_dup": ORACLE_VIDEO_NEAR_DUP,
    "audio_near_dup": ORACLE_AUDIO_NEAR_DUP,
    "media_curate": ORACLE_MEDIA_CURATE,
    "asof_join": ORACLE_ASOF_JOIN,
    "repeated_spans": ORACLE_REPEATED_SPANS,
    "time_rollup": ORACLE_TIME_ROLLUP,
    "url_dedup": ORACLE_URL_DEDUP,
    "domain_quota": ORACLE_DOMAIN_QUOTA,
    "quantize_embeddings": ORACLE_QUANTIZE,
    "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "corpus_report": ORACLE_CORPUS_REPORT,
    "lm_perplexity": ORACLE_LM_PERPLEXITY,
    "heavy_hitters": ORACLE_HEAVY_HITTERS,
    "attribution": ORACLE_ATTRIBUTION,
    "weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "profile_table": ORACLE_PROFILE_TABLE,
    "zorder_key": ORACLE_ZORDER_KEY,
    "robust_outliers": ORACLE_ROBUST_OUTLIERS,
    "fuzzy_match": ORACLE_FUZZY_MATCH,
    "pagerank": _oracle_pagerank(),
    "bpe_train": _oracle_bpe_train(),
    "char_entropy": ORACLE_CHAR_ENTROPY,
    "containment_pairs": ORACLE_CONTAINMENT,
    "hybrid_search": ORACLE_HYBRID_SEARCH.format(bm25=ORACLE_BM25_SEARCH),
    "incremental_cc": ORACLE_INCREMENTAL_CC.format(
        shingle=_SHINGLE_SQL.format(km1=2), sigs=_MINHASH_SIGS_CTE,
        cands=_LSH_CAND_CTES),
    "chunk_overlap": ORACLE_CHUNK_OVERLAP,
    "funnel": ORACLE_FUNNEL,
    "retention": ORACLE_RETENTION,
    "correlation": ORACLE_CORRELATION,
    "standardize": ORACLE_STANDARDIZE,
    "histogram": ORACLE_HISTOGRAM,
    "tfidf_pairs": ORACLE_TFIDF_PAIRS,
    "domain_quota_skewsafe": ORACLE_DOMAIN_QUOTA_SKEWSAFE,
    "bpe_encode": _oracle_bpe_encode(6),
    "bloom_semi_join": ORACLE_BLOOM_SEMI_JOIN,
    "pq_adc_topk": ORACLE_PQ_ADC_TOPK,
    "leakage_safe_split": _oracle_leakage_safe_split(),
    "hard_negatives": ORACLE_HARD_NEGATIVES,
    "gopher_gate": ORACLE_GOPHER_GATE,
    "dsir_select": ORACLE_DSIR_SELECT,
    "perplexity_buckets": ORACLE_PERPLEXITY_BUCKETS,
    "train_classifier": _oracle_train_classifier(3),
    "temperature_mixture": ORACLE_TEMPERATURE_MIXTURE,
    "random_projection": _oracle_random_projection(64, 16),
    "link_extract": ORACLE_LINK_EXTRACT,
    "semantic_decontaminate": ORACLE_SEMANTIC_DECONTAMINATE,
    "retrieval_metrics": ORACLE_RETRIEVAL_METRICS,
    "distribution_drift": ORACLE_DISTRIBUTION_DRIFT,
    "kn_perplexity": ORACLE_KN_PERPLEXITY,
    "unigram_vocab": ORACLE_UNIGRAM_VOCAB,
    "unigram_encode": _oracle_unigram_encode(16),
    "unigram_train": _oracle_unigram_train(16, 2),
    "table_extract": ORACLE_TABLE_EXTRACT,
    "drop_repeated_spans": ORACLE_DROP_REPEATED_SPANS,
    "url_filter": ORACLE_URL_FILTER,
    "c4_clean": ORACLE_C4_CLEAN,
    "politeness_schedule": ORACLE_POLITENESS_SCHEDULE,
    "schedule_fetches_stream": ORACLE_SCHEDULE_FETCHES_STREAM,
    "pmi_collocations": ORACLE_PMI_COLLOCATIONS,
    "phrase_search": ORACLE_PHRASE_SEARCH,
    "margin_topk": ORACLE_MARGIN_TOPK,
    "cdc_chunks": ORACLE_CDC_CHUNKS,
    "calibration_bins": ORACLE_CALIBRATION_BINS,
    "registrable_domain": ORACLE_REGISTRABLE_DOMAIN,
    "tokenizer_fertility": _oracle_tokenizer_fertility(),
    "ascii_fold": _oracle_ascii_fold(),
    "robots_check": ORACLE_ROBOTS_CHECK,
    "corpus_diff": ORACLE_CORPUS_DIFF,
    "split_sentences": ORACLE_SPLIT_SENTENCES,
    "decontaminate_spans": ORACLE_DECONTAMINATE_SPANS,
    "normalize_punct": _oracle_normalize_punct(),
    "mojibake": ORACLE_MOJIBAKE,
    "epoch_plan": ORACLE_EPOCH_PLAN,
    "code_score": ORACLE_CODE_SCORE,
    "url_features": ORACLE_URL_FEATURES,
    "script_profile": ORACLE_SCRIPT_PROFILE,
    "k_anonymity": ORACLE_K_ANONYMITY,
    "label_propagation": _oracle_label_propagation(),
    "ngram_diversity": ORACLE_NGRAM_DIVERSITY,
    "novelty_score": ORACLE_NOVELTY_SCORE,
    "readability": ORACLE_READABILITY,
    "embedding_diversity": ORACLE_EMBEDDING_DIVERSITY,
    "warc_roundtrip": ORACLE_WARC_ROUNDTRIP,
}


def fast_variants() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Production-path (``exact=False``) twins of the decimal-exact
    profiling queries — bench-only, NOT in ``queries()``: double-moment
    accumulators re-associate across partitions, so their 6th digit is
    not cross-engine deterministic and an oracle hash would flake by
    construction. The exact mode is the correctness contract; these
    exist so the ~4x-cheaper path a production deployment would run is
    ALSO regression-tracked (bench non_headline rows ``*_fast``)."""
    from zacks_estimates_financial_statements_spark.operators import profiling

    def corr_fast(spark, sf):
        li = _t(spark, sf, "lineitem")
        return profiling.correlation_matrix(
            li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            exact=False)

    def std_fast(spark, sf):
        li = _t(spark, sf, "lineitem")
        out = profiling.standardize(
            li.select("l_orderkey", "l_linenumber", "l_quantity",
                      "l_extendedprice"),
            ["l_quantity", "l_extendedprice"], exact=False)
        return out.select("l_orderkey", "l_linenumber",
                          "l_quantity__scaled", "l_extendedprice__scaled")

    def profile_fast(spark, sf):
        from zacks_estimates_financial_statements_spark.operators import profiling as p
        return p.profile_table(_t(spark, sf, "events"), exact=False)

    return {"correlation_fast": corr_fast,
            "standardize_fast": std_fast,
            "profile_table_fast": profile_fast}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_star_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLE)
