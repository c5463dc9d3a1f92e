"""Raw-zone readers — SURVEY §2.1 S5 (dated-directory scan).

The raw zone mirrors the reference layout::

    <base>/<dataset>/<yyyy-MM-dd>/<SYM>.detailed-estimates.html
    <base>/<dataset>/<yyyy-MM-dd>/<SYM>.income-statement.html
    <base>/<dataset>/<yyyy-MM-dd>/<yyyy-MM-dd>.json       # calendars

(estimate-extract.rkt:15, financial-statement-extract.rkt:19-47,
earnings-calendar-extract.rkt:15-17.)

Files are read distributed via ``spark.read.format("binaryFile")`` — at
100 TB of raw HTML the scan parallelizes across executors and the
filename-derived columns (symbol, event date, folder date) come from
``input_file_name()``-style path columns, not a driver-side listing.
Small-file pressure is the real scale risk here; ``wholeTextFiles``-style
consolidation or upstream tar-batching is the documented mitigation, but
the operator surface below is unchanged either way.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: filename suffix per dataset (reference extract writers)
SUFFIXES = {
    "estimates": ".detailed-estimates.html",
    "income-statement": ".income-statement.html",
    "balance-sheet": ".balance-sheet.html",
    "cash-flow-statement": ".cash-flow-statement.html",
}


def load_documents(reader, dataset: str, path: str) -> DataFrame:
    """(path, content, act_symbol, folder_date) of the ``dataset``
    documents under ``path``, through a batch or a stream reader: only
    files with the dataset's suffix, read as ``binaryFile``, the symbol
    taken from the file name less the suffix and the folder date from
    its parent directory (``<base>/<dataset>/<yyyy-MM-dd>/<SYM><suffix>``)."""
    suffix = SUFFIXES[dataset]
    path_col = F.col("path")
    folder = F.regexp_extract(path_col, r"/(\d{4}-\d{2}-\d{2})/[^/]+$", 1)
    return (reader.format("binaryFile")
            .option("pathGlobFilter", f"*{suffix}")
            .load(path)
            .select(path_col,
                    F.col("content").cast("string").alias("content"),
                    F.regexp_extract(path_col, rf"([^/]+){re.escape(suffix)}$",
                                     1).alias("act_symbol"),
                    # ansi-ok: pipeline-written dated layout; a malformed folder must abort loudly (layout-drift/tamper detection)
                    F.to_date(folder, "yyyy-MM-dd").alias("folder_date")))


def read_documents(spark: SparkSession, base: str, dataset: str,
                   folder_date: str) -> DataFrame:
    """HTML documents for one (dataset, folder_date):
    (path, content, act_symbol, folder_date)."""
    return load_documents(spark.read, dataset,
                          f"{base}/{dataset}/{folder_date}")


def read_calendar_files(spark: SparkSession, base: str, dataset: str,
                        folder_date: str) -> DataFrame:
    """Calendar JSON day-files: (path, content, event_date, folder_date),
    row order preserved via path. The event date is the file stem, NOT
    part of the payload (earnings-calendar-transform-load.rkt:55-56)."""
    stem = F.regexp_extract(F.col("path"), r"([^/]+)\.json$", 1)
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.json")
            .load(f"{base}/{dataset}/{folder_date}")
            .select(F.col("path"),
                    F.col("content").cast("string").alias("content"),
                    # ansi-ok: day-file stems are pipeline-written YYYY-MM-DD names; abort loudly on layout drift
                    F.to_date(stem, "yyyy-MM-dd").alias("event_date"),
                    F.lit(folder_date).cast("date").alias("folder_date")))


# ---------------------------------------------------------------------------
# Raw-zone archival — the reference's post-load compression step
# (estimate-extract-transform-load.sh:9 `7zr a .../<date>.7z .../<date>/
# *.html`; financial-statement-transform-load-yesterday.sh:10-12;
# the calendar scripts archive day folders under a YEAR archive,
# earnings-calendar-extract-transform-load.sh:10). 7z is not in this
# container; tar + xz (LZMA — the same compression family 7z defaults
# to) models the semantics: one compressed artifact per dated folder,
# originals left in place unless the caller opts into removal.
#
# At 100 TB this is ALSO the small-file mitigation the module docstring
# promises: a day of per-symbol HTML collapses into one object, and
# read-back parallelizes ACROSS day archives (one task per archive via
# binaryFile + mapInPandas), which is the right unit — a day is bounded
# by the symbol universe, the corpus is unbounded in days.
# ---------------------------------------------------------------------------


def _sha256(data: bytes) -> str:
    import hashlib

    return hashlib.sha256(data).hexdigest()


def archive_day(base: str, dataset: str, folder_date: str) -> dict:
    """Archive one dated folder into ``<base>/<dataset>/
    <folder_date>.tar.xz`` (members stored under their basenames,
    sorted — byte-deterministic for identical content).

    Idempotent: an existing archive is VERIFIED against the live folder
    (member names + content hashes) and reused when it matches; a
    mismatching archive raises instead of silently clobbering history.
    The live folder stays. Returns a manifest
    ``{archive, n_members, bytes_in, bytes_out}``.
    """
    import glob as _glob
    import os
    import tarfile

    suffix = SUFFIXES.get(dataset, "")
    folder = os.path.join(base, dataset, folder_date)
    if not os.path.isdir(folder):
        raise ValueError(f"no raw-zone folder {folder}")
    members = sorted(_glob.glob(os.path.join(folder, f"*{suffix}")))
    if not members:
        raise ValueError(f"nothing matching *{suffix} under {folder}")
    want = {os.path.basename(p): _sha256(open(p, "rb").read())
            for p in members}
    bytes_in = sum(os.path.getsize(p) for p in members)
    archive = os.path.join(base, dataset, f"{folder_date}.tar.xz")

    def verify(path: str) -> bool:
        try:
            with tarfile.open(path, "r:xz") as tf:
                got = {m.name: _sha256(tf.extractfile(m).read())
                       for m in tf.getmembers() if m.isfile()}
        except (OSError, tarfile.TarError):
            return False
        return got == want

    if os.path.exists(archive):
        if not verify(archive):
            raise ValueError(
                f"{archive} exists but does not match the live folder — "
                "refusing to overwrite an archival artifact")
    else:
        tmp = archive + ".tmp"
        with tarfile.open(tmp, "w:xz") as tf:
            for p in members:
                tf.add(p, arcname=os.path.basename(p))
        if not verify(tmp):  # pragma: no cover — defensive
            os.unlink(tmp)
            raise ValueError(f"archive verification failed for {archive}")
        os.replace(tmp, archive)
    return {"archive": archive, "n_members": len(want),
            "bytes_in": bytes_in,
            "bytes_out": os.path.getsize(archive)}


def read_archived_documents(spark: SparkSession, pattern: str,
                            dataset: str) -> DataFrame:
    """Distributed read-back of day archives: ``pattern`` may glob many
    ``<date>.tar.xz`` artifacts; each archive is one binaryFile row and
    unpacks inside ONE executor task (a day archive is bounded by the
    symbol universe), so parallelism comes from the ACROSS-archives
    axis — the unbounded one. Emits the ``dataset`` members as the
    (path, content, act_symbol, folder_date) rows ``read_documents``
    gives for the live folder, so the parsers run unchanged on history."""
    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(spark)
    suffix = SUFFIXES[dataset]
    raw = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.tar.xz").load(pattern)

    def fn(batches):
        import io
        import os
        import tarfile

        import pandas as pd

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                date = os.path.basename(path).replace(".tar.xz", "")
                with tarfile.open(fileobj=io.BytesIO(bytes(content)),
                                  mode="r:xz") as tf:
                    for m in tf.getmembers():
                        if not (m.isfile() and m.name.endswith(suffix)):
                            continue
                        rows.append({
                            "path": f"{path}!{m.name}",
                            "content":
                                tf.extractfile(m).read().decode("utf-8"),
                            "act_symbol": m.name[:-len(suffix)],
                            "folder_date": date,
                        })
            yield pd.DataFrame(
                rows, columns=["path", "content", "act_symbol",
                               "folder_date"])

    out = raw.select("path", "content").mapInPandas(
        fn, "path string, content string, act_symbol string, "
            "folder_date string")
    return out.withColumn("folder_date",  # ansi-ok: archive member dir name, written by archive_day; tampered archives abort loudly
                          F.col("folder_date").cast("date"))
