"""The ``query_mix`` workload: 10 entries of ``__spark_entry__.queries()``
over seeded analytical tables, at least one per operator module the ELT
workload bypasses.

Set-up writes the tables and computes every query's answer with its
DuckDB twin (``oracle_sql()``), which touches no JVM. A timed run then
collects each query's rows, followed by its ``release_cache()`` hook and
``clearCache()``; outside the timer the rows must hash to the twin's.
The first run is the session's first query work, as in a fresh driver
process; it takes longer than the benchmark's ``--seconds``, so that is
the only one.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import os
import time
import traceback

from perfbench import measure
from perfbench.tables import write_tables

NAMES = [
    # reference relational shapes
    "star_join", "keep_latest_antijoin", "stale_cleanup", "cell_grammar",
    "asof_join",
    # operators.profiling
    "profile_table",
    # functions.tokenize
    "tokenizer_fertility",
    "quantize_embeddings",
    # pair generators
    "minhash_near_dup_pairs",
    # operators.extraction
    "html_to_text",
]
SCALE = 0.001
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(_ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _canon(v) -> str:
    """Engine-independent rendering for the value hash (the oracle
    battery's convention: decimal scale, timestamp precision and the
    decimal-vs-integer type are kept)."""
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _hash(cols: list[str], rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("\x01".join(_canon(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def _release(spark, df) -> None:
    release = getattr(df, "release_cache", None)
    if release is not None:
        release()
    spark.catalog.clearCache()


class QueryMix:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.data = os.path.join(work, "tables")
        self.entry = load_entry()
        self.table_rows: dict[str, int] = {}
        #: query -> (sorted column names, value hash) of its DuckDB twin
        self.oracle: dict[str, tuple[list[str], str]] = {}

    def prepare(self) -> None:
        self.table_rows = write_tables(self.data, self.seed, SCALE)
        self.oracle = self._oracle_answers()

    def _oracle_answers(self) -> dict[str, tuple[list[str], str]]:
        import duckdb

        m = self.entry
        osql = m.oracle_sql()
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t, cols in m.TABLE_COLUMNS.items():
            temporal = m.TEMPORAL_COLUMNS.get(t, {})
            sel = ", ".join(f'CAST("{c}" AS TIMESTAMP) AS "{c}"'
                            if c in temporal else f'"{c}"' for c in cols)
            con.execute(f"CREATE VIEW {t} AS SELECT {sel} FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        out = {}
        for name in NAMES:
            tbl = con.execute(osql[name]).arrow()
            cols = list(tbl.column_names)
            rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
            out[name] = (sorted(cols), _hash(cols, rows))
        con.close()
        return out

    def run(self, spark, tracer=None) -> tuple[dict[str, bool], dict[str, float]]:
        """One timed pass: ({query: matches its twin}, {query: seconds})."""
        qs = self.entry.queries()
        ok, secs = {}, {}
        for name in NAMES:
            t = time.time()
            with (tracer.span(f"query.{name}") if tracer is not None
                  else contextlib.nullcontext()):
                got = self._collect(spark, qs[name])
            secs[name] = time.time() - t
            ok[name] = got is not None and (
                sorted(got[0]), _hash(*got)) == self.oracle[name]
        return ok, secs

    def _collect(self, spark, query):
        """(columns, rows) of ``query``, or None if it raised."""
        try:
            df = query(spark, self.data)
            rows = [tuple(r) for r in df.collect()]
            _release(spark, df)
            return df.columns, rows
        except Exception:  # noqa: BLE001 — a failed query is counted
            traceback.print_exc()
            return None

    def docs(self) -> int:
        """Rows of the ``documents`` table: one pass of the mix reads the
        whole corpus."""
        return self.table_rows["documents"]

    def store_mb(self) -> float:
        return measure.tree_bytes(self.data) / 2**20
