"""Local replica of the driver's DuckDB-oracle correctness check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables; compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted,
values canonicalized to strings). Each query runs in one
``util.cache_scope()``; a query that leaves anything in the CacheManager
after its scope exits fails with ``cache leak``.

Usage: python tools/oracle_check.py [sf_dir] [query ...] [--json OUT]

``--json OUT`` additionally writes a machine-readable result file in the
driver's CORRECTNESS_r{N}.json schema (per-query ``rows_match`` /
``schema_match`` / ``hash_match`` / ``spark_rows`` / ``oracle_rows`` /
``err``), covering the FULL registry — the driver grades only the first
50 entries, so this file is the local attestation for the rest.

A FULL run (no query filter) ALWAYS refreshes
``CORRECTNESS_local.json`` next to the repo root, even without
``--json`` — the attestation artifact regenerates as a side effect of
the check itself, so it can never silently lag the registry (round-6
lesson: a hand-emitted file missed the last-added query).
``tests/test_attestation.py`` asserts its key set == ``queries()``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v) -> str:
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            # -0.0 == 0.0 (IEEE): DuckDB's round() preserves the sign
            # of a tiny negative rounding to zero, Spark's BigDecimal
            # round drops it — hashing them apart is a harness
            # artifact, first seen at sf0.1 (standardize,
            # weighted_sample). The producing twins ALSO add `+ 0` at
            # the source so external comparers see identical bytes.
            return "0.0"
        return repr(v)
    # Strict rendering: preserve decimal scale, timestamp precision, and
    # the decimal-vs-integer physical type. (Round 1 lesson: normalize()
    # and bare isoformat here masked driver hash failures — e.g. DuckDB
    # sum(BIGINT) surfaces as decimal128(38,0) through Arrow while Spark
    # emits bigint; those must NOT canonicalize equal.)
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    if isinstance(v, (datetime.datetime,)):
        return v.isoformat(timespec="microseconds")
    if isinstance(v, (datetime.date,)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv and os.path.isdir(argv[0]) \
        else "/root/testdata/sf0.01"
    only = [a for a in argv if not os.path.isdir(a)]

    from zacks_estimates_financial_statements_spark.util import cache_scope

    mod = bench.registry()
    # the synth-sf1 attestation needs bench.session()'s oversized-run
    # overrides: the 1g default heap OOMs at tfidf_pairs and the pair
    # stages OOM per task at the default shuffle partitions
    spark = bench.session()

    # Spec leg for the mirrored twins (r12, ADVICE): the URL/HTML
    # oracles re-state the Spark pipeline, so the pipeline itself is
    # checked against hand-computed expected values on clean input
    # before every battery — a shared spec bug fails HERE, loudly.
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import spec_probe
    probe_fails = spec_probe.run(spark)
    if probe_fails:
        for f in probe_fails:
            print("SPEC FAIL", f)
        return 1

    con = duckdb.connect()
    # temporal casts below convert TIMESTAMPTZ via the session zone —
    # pin it so results don't depend on the harness TZ (mirrors the
    # Spark session's UTC pin in _t())
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        # reader contract (r13, --drift-rate): project the table's
        # canonical columns by NAME, mirroring the Spark-side _t()
        # projection — physical column order and trailing columns a
        # producer appended are absorbed at the reader boundary.
        # Temporal contract columns additionally normalize to plain
        # TIMESTAMP (micros, wall-clock UTC): TIMESTAMP_NS truncates
        # exactly, TIMESTAMPTZ converts under the pinned zone — the
        # same dispatch _t() applies Spark-side (TEMPORAL_COLUMNS).
        temporal = mod.TEMPORAL_COLUMNS.get(t, {})
        cols = ", ".join(
            f'CAST("{c}" AS TIMESTAMP) AS "{c}"' if c in temporal
            else f'"{c}"' for c in mod.TABLE_COLUMNS[t])
        con.execute(f"CREATE VIEW {t} AS SELECT {cols} FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs, osql = mod.queries(), mod.oracle_sql()
    names = only or list(qs)
    failures = 0
    results: dict[str, dict] = {}

    def record(name, *, rows_match=None, schema_match=None, hash_match=None,
               spark_rows=None, oracle_rows=None, err=None, mode="oracle"):
        results[name] = {"rows_match": rows_match,
                         "schema_match": schema_match,
                         "hash_match": hash_match,
                         "spark_rows": spark_rows,
                         "oracle_rows": oracle_rows,
                         "err": err, "mode": mode}

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()   # start the battery from an empty cache
    for name in names:
        t0 = time.time()
        try:
            with cache_scope():
                sdf = qs[name](spark, sf_dir)
                srows = [tuple(r) for r in sdf.collect()]
                scols = sdf.columns
            # leak gate: every persist a query makes must go through
            # util.persist so its scope releases it; one that bypasses
            # the helper is still cached here
            leaked = not cache_manager.isEmpty()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {str(exc)[:300]}")
            record(name, err=f"spark: {str(exc)[:200]}")
            failures += 1
            continue
        finally:
            # bench.py's honesty rule, applied to the battery too: a
            # query must not leave a persist registered for a LATER
            # query's canonically-equal subtree to silently reuse
            # (CacheManager matches by canonicalized plan)
            spark.catalog.clearCache()
        if leaked:
            print(f"FAIL {name}: cache leak")
            record(name, spark_rows=len(srows), err="cache leak")
            failures += 1
            continue
        if name not in osql:
            print(f"SKIP {name}: no oracle (rows={len(srows)})")
            record(name, rows_match=len(srows) >= 0,
                   spark_rows=len(srows), mode="rows-only")
            continue
        try:
            # Fetch through Arrow (not fetchall) so DuckDB's physical
            # output types surface the way the driver sees them —
            # e.g. HUGEINT sums arrive as decimal128(38,0) Decimals.
            tbl = con.execute(osql[name]).arrow()
            dcols = list(tbl.column_names)
            drows = [tuple(d[c] for c in dcols) for d in tbl.to_pylist()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {str(exc)[:300]}")
            record(name, spark_rows=len(srows),
                   err=f"duckdb: {str(exc)[:200]}")
            failures += 1
            continue
        dt = time.time() - t0
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {sorted(scols)} vs {sorted(dcols)}")
            record(name, rows_match=len(srows) == len(drows),
                   schema_match=False, spark_rows=len(srows),
                   oracle_rows=len(drows))
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}")
            record(name, rows_match=False, schema_match=True,
                   spark_rows=len(srows), oracle_rows=len(drows))
            failures += 1
            continue
        sh = table_hash(scols, srows)
        dh = table_hash(dcols, drows)
        record(name, rows_match=True, schema_match=True, hash_match=sh == dh,
               spark_rows=len(srows), oracle_rows=len(drows))
        if sh != dh:
            print(f"FAIL {name}: hash mismatch ({len(srows)} rows)")
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = sorted("\x01".join(canon(r[i]) for i in order) for r in srows)
            dset = sorted("\x01".join(canon(r[i]) for i in order) for r in drows)
            for a, b in zip(sset, dset):
                if a != b:
                    print(f"  spark : {a[:220]}")
                    print(f"  duckdb: {b[:220]}")
                    break
            failures += 1
        else:
            print(f"OK   {name}: {len(srows)} rows, {dt:.1f}s")
    spark.stop()
    outs = [json_out] if json_out else []
    canonical_sf = "/root/testdata/sf0.01"
    if not only and os.path.realpath(sf_dir) == os.path.realpath(canonical_sf):
        # full-registry run AT THE CANONICAL SF: the local attestation
        # refreshes so it cannot lag the registry. Other data dirs
        # (sf0.001 smoke runs, contract-fuzz datasets) must never
        # clobber the canonical artifact.
        outs.append(os.path.join(bench.ROOT, "CORRECTNESS_local.json"))
    elif not only:
        print(f"# non-canonical sf_dir {sf_dir}: "
              "NOT refreshing CORRECTNESS_local.json")
    for out in outs:
        with open(out, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {out} ({len(results)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
