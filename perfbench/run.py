"""The repository benchmark: one seeded workload per invocation, outputs
checked, metrics printed by name and unit, and a JSON result as the last
line of standard output.

    python3 perfbench/run.py --workload daily --seed 1 --seconds 5 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
traced run that reports the per-layer metrics (see perfbench/README.md).
Everything the run writes goes under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.queries import NAMES as QUERY_NAMES  # noqa: E402
WORK = os.path.join(ROOT, ".bench_work")
CPUS = min(2, os.cpu_count() or 1)
PACKAGE = "zacks_estimates_financial_statements_spark"

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("docs_per_s", "1/s"),
              ("peak_rss_mb", "MB"), ("store_mb", "MB")]
JOB_LAYERS = ["runner", "writer", "estimate_pipeline", "statement_pipeline",
              "calendar_pipeline", "export", "raw_zone", "parse",
              "raw_zone_stream", "query", "trace"]
PER_LAYER = [
    ("failed_op_ratio", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.timed_jobs", "count"), ("spark.unattributed_jobs", "count"),
    ("spark.driver_gap_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_mb", "MB"), ("spark.codegen_fallbacks", "count"),
    ("spark.python_workers_mb", "MB"),
    ("runner.self_s", "s"),
    ("writer.upsert_calls", "count"), ("writer.upsert_s", "s"),
    ("writer.overwrite_s", "s"), ("writer.delete_s", "s"),
    ("writer.rows_offered", "count"), ("writer.rows_written", "count"),
    ("writer.write_ratio", "ratio"), ("writer.files_added", "count"),
    ("estimate_pipeline.load_s", "s"), ("estimate_pipeline.gate_s", "s"),
    ("statement_pipeline.typed_s", "s"), ("statement_pipeline.sni_s", "s"),
    ("statement_pipeline.load_s", "s"), ("statement_pipeline.accept_ratio", "ratio"),
    ("calendar_pipeline.merge_s", "s"), ("calendar_pipeline.cleanup_s", "s"),
    ("calendar_pipeline.condemned_rows", "count"),
    ("raw_zone.scan_s", "s"), ("raw_zone.files", "count"), ("raw_zone.mb", "MB"),
    ("parse.estimates_s", "s"), ("parse.statements_s", "s"),
    ("parse.calendars_s", "s"), ("parse.docs", "count"), ("parse.ok_ratio", "ratio"),
    ("raw_zone_stream.pass_s", "s"), ("raw_zone_stream.batches", "count"),
    ("raw_zone_stream.batch_s", "s"),
    ("export.dump_s", "s"), ("export.csv_files", "count"), ("export.rows", "count"),
    *[(f"{layer}.jobs", "count") for layer in JOB_LAYERS],
    *[(f"query.{q}_s", "s") for q in QUERY_NAMES],
    ("trace.run_s", "s"), ("trace.overhead_s", "s"), ("trace.self_s", "s"),
    ("trace.unaccounted_s", "s"),
]


def _fingerprint(*bench: str) -> str:
    """Hash of the package, the page builders and the named files of the
    benchmark (all of them when none are named)."""
    h = hashlib.sha256()
    here = os.path.join(ROOT, "perfbench")
    files = [os.path.join(ROOT, "tests", "fixtures.py")]
    files += [os.path.join(here, f) for f in
              (bench or sorted(n for n in os.listdir(here) if n.endswith(".py")))]
    for base, _, names in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        files += [os.path.join(base, n) for n in sorted(names)
                  if n.endswith(".py")]
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


# -- Spark session -----------------------------------------------------------


def start_spark(work: str, extra: dict[str, str] | None = None):
    """A ``local[CPUS]`` session whose scratch files stay in ``work``; the
    JVM's console log (and its Python workers') goes to ``work/jvm.log``.
    The driver heap is fixed at 2 GB from the start: with Spark's default
    (1 GB, grown on demand) ``daily`` ran slower and its peak memory
    varied with when the heap grew (see perfbench/README.md)."""
    from zacks_estimates_financial_statements_spark.session import get_spark
    from zacks_estimates_financial_statements_spark.util import (
        ensure_package_on_executors,
    )

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    conf = {"spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
            "spark.driver.memory": "2g",
            **(extra or {})}
    log = os.path.join(work, "jvm.log")
    sys.stderr.flush()
    saved = os.dup(2)
    with open(log, "ab") as fh:
        os.dup2(fh.fileno(), 2)
        try:
            spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]",
                              extra_conf=conf)
        finally:
            os.dup2(saved, 2)
            os.close(saved)
    spark.sparkContext.setLogLevel("ERROR")
    # ship the package before any pipeline runs: concurrent first calls
    # (several streaming queries starting at once) race on the zip
    ensure_package_on_executors(spark)
    return spark, log


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from perfbench.measure import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


# -- workloads ---------------------------------------------------------------


def ensure_history() -> str:
    """The daily workload's seeded store, built once per checkout in a
    separate process (so every timed run starts in a fresh JVM)."""
    target = os.path.join(WORK, f"history-{_fingerprint('rawzone.py', 'elt.py')}")
    if not os.path.isdir(target):
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--build-history", target],
                       check=True, stdout=sys.stderr, timeout=600)
    return target


def build_history(target: str) -> None:
    from perfbench import elt

    work = tempfile.mkdtemp(prefix="build-", dir=WORK)
    try:
        spark, _ = start_spark(work)
        try:
            elt.build_history(spark, target)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


class Result:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}


def run_daily(seed: int, seconds: int, traced: bool, work: str) -> Result:
    """Closed loop of daily runs for ``seconds`` (at least one), each on a
    freshly written day and a restored store; the first is the JVM's first
    pipeline work, as in each cron invocation of the reference."""
    from perfbench import elt
    from perfbench.measure import PeakRss
    from perfbench.trace import Tracer, event_log_conf

    res = Result()
    history = ensure_history()
    daily = elt.Daily(seed, work, history)
    log_dir = os.path.join(work, "eventlog")
    if traced:
        os.makedirs(log_dir)
    t = time.time()
    spark, jvm_log = start_spark(work, event_log_conf(log_dir) if traced else None)
    daily.prepare(0)
    res.metrics["setup_s"] = time.time() - t
    tracer = counters = None
    windows: list[tuple[float, float]] = []
    try:
        if traced:
            tracer, counters = Tracer(spark), elt.Counters()
            elt.instrument(tracer, counters)
        with PeakRss() as rss:
            start = time.time()
            while not windows or time.time() - start < seconds:
                if windows:
                    daily.prepare(len(windows))
                t0 = time.time()
                ok = daily.run(spark, tracer)
                windows.append((t0, time.time()))
                res.attempted += len(ok)
                res.failed += daily.check(ok)
        run_s = statistics.median(b - a for a, b in windows)
        res.metrics.update(run_s=run_s, docs_per_s=daily.docs() / run_s,
                           peak_rss_mb=rss.jvm_mb, store_mb=daily.store_mb())
        res.layer["spark.python_workers_mb"] = rss.workers_mb
        if traced:
            res.layer.update({k: v / len(windows)
                              for k, v in counters.values.items()})
            elt.traced_extras(spark, tracer, daily, res.layer)
            t_end = time.time()
    finally:
        if tracer is not None:
            tracer.restore()
        stop_spark(spark)
    if traced:
        _layers(res, tracer, log_dir, jvm_log, windows,
                (windows[0][0], t_end))
    return res


def run_query_mix(seed: int, seconds: int, traced: bool, work: str) -> Result:
    """Closed loop of query-mix passes for ``seconds`` (at least one), each
    checked against the DuckDB answers computed in set-up; the first is
    the session's first query work."""
    from perfbench.measure import PeakRss
    from perfbench.queries import QueryMix
    from perfbench.trace import Tracer, event_log_conf

    res = Result()
    qm = QueryMix(seed, work)
    log_dir = os.path.join(work, "eventlog")
    if traced:
        os.makedirs(log_dir)
    t = time.time()
    spark, jvm_log = start_spark(work, event_log_conf(log_dir) if traced else None)
    tracer = None
    try:
        qm.prepare()
        res.metrics["setup_s"] = time.time() - t
        tracer = Tracer(spark) if traced else None
        windows, per_query = [], {q: [] for q in QUERY_NAMES}
        with PeakRss() as rss:
            start = time.time()
            while not windows or time.time() - start < seconds:
                t0 = time.time()
                ok, secs = qm.run(spark, tracer)
                windows.append((t0, time.time()))
                res.attempted += len(ok)
                res.failed += [f"query:{q}" for q, good in ok.items() if not good]
                for q, s in secs.items():
                    per_query[q].append(s)
    finally:
        stop_spark(spark)
    run_s = statistics.median(b - a for a, b in windows)
    res.metrics.update(run_s=run_s, docs_per_s=qm.docs() / run_s,
                       peak_rss_mb=rss.jvm_mb, store_mb=qm.store_mb())
    res.layer["spark.python_workers_mb"] = rss.workers_mb
    if traced:
        for q, s in per_query.items():
            res.layer[f"query.{q}_s"] = statistics.median(s)
        _layers(res, tracer, log_dir, jvm_log, windows,
                (windows[0][0], windows[-1][1]))
    return res


def _layers(res: Result, tracer, log_dir: str, jvm_log: str, timed, counted) -> None:
    """Per-layer metrics of a traced run from its spans and event log."""
    from perfbench.trace import codegen_fallbacks, spark_metrics

    wall = sum(b - a for a, b in timed)
    self_t: dict[str, float] = {}
    for a, b in timed:
        for name, s in tracer.self_times(a, b).items():
            self_t[name] = self_t.get(name, 0.0) + s / len(timed)
    lay = res.layer
    for name, s in self_t.items():
        key = name.split(".", 1)[0] + ".self_s" if name.startswith(("runner.", "trace.")) \
            else name + "_s"
        if not name.startswith("query."):
            lay[key] = lay.get(key, 0.0) + s
    lay.update(spark_metrics(tracer, log_dir, timed, counted, JOB_LAYERS))
    # per timed run, like run_s
    for k in ("spark.driver_gap_s", "spark.task_cpu_s", "spark.gc_s",
              "spark.shuffle_mb", "spark.timed_jobs", "spark.stages",
              "spark.tasks"):
        lay[k] /= len(timed)
    lay["spark.codegen_fallbacks"] = codegen_fallbacks(jvm_log)
    offered = lay.get("writer.rows_offered", 0)
    lay["writer.write_ratio"] = lay.get("writer.rows_written", 0) / offered \
        if offered else 0.0
    run_s = wall / len(timed)
    lay["trace.run_s"] = run_s
    lay["trace.unaccounted_s"] = run_s - sum(self_t.values())


def _untraced_dir(args) -> str:
    """Where untraced runs record their ``run_s``, keyed by the code and
    the arguments that set the amount of work (the seed changes values,
    not sizes)."""
    return os.path.join(WORK, f"untraced-{args.workload}-{args.seconds}-"
                              f"{_fingerprint()}")


def untraced_run_s(args) -> float:
    """Median ``run_s`` of the untraced runs recorded for this code and
    these arguments; with none recorded, one is run first as its own
    invocation, with the same seed."""
    rec = _untraced_dir(args)
    if not os.path.isdir(rec):
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", args.workload, "--seed", str(args.seed),
                        "--seconds", str(args.seconds), "--trace", "0"],
                       check=True, stdout=sys.stderr)
    runs = []
    for name in os.listdir(rec):
        with open(os.path.join(rec, name)) as fh:
            runs.append(float(fh.read()))
    return statistics.median(runs)


WORKLOADS = {"daily": run_daily, "query_mix": run_query_mix}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-history", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        ap.error(f"run from a checkout of the repository: {PACKAGE}/ is missing")

    os.makedirs(WORK, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if args.build_history:
        build_history(args.build_history)
        return 0
    if not args.workload:
        ap.error("--workload is required")

    reference = untraced_run_s(args) if args.trace else None
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    try:
        res = WORKLOADS[args.workload](args.seed, args.seconds,
                                       bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res.layer["failed_op_ratio"] = len(res.failed) / max(res.attempted, 1)
    if reference is not None:
        res.layer["trace.overhead_s"] = res.layer["trace.run_s"] - reference
    elif not res.failed:
        rec = _untraced_dir(args)
        os.makedirs(rec, exist_ok=True)
        with open(os.path.join(rec, f"{os.getpid()}-{time.time_ns()}"), "w") as fh:
            fh.write(repr(res.metrics["run_s"]))

    units = dict(END_TO_END + PER_LAYER)
    shown = {**res.metrics, "failed_op_ratio": res.layer["failed_op_ratio"]}
    if args.trace:
        shown.update(res.layer)
    for name in sorted(shown):
        print(f"{name:40s} {shown[name]:>14.6g} {units[name]}")
    for op in res.failed:
        print(f"FAILED {op}")
    names = PER_LAYER if args.trace else END_TO_END
    source = res.layer if args.trace else res.metrics
    print(json.dumps({
        "correct": not res.failed,
        "attempted": res.attempted,
        "failed": len(res.failed),
        "metrics": {n: {"value": float(source.get(n, 0.0)), "unit": u}
                    for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
