"""WARC (Web ARChive) record source — the container CommonCrawl and
every serious crawler deliver, and the single most common crawl-corpus
input this engine was still missing (r9 verdict #7's sanctioned
extension).

Format (ISO 28500): a ``.warc.gz`` file is a CONCATENATION of gzip
members, one WARC record per member — that is what makes the format
splittable-ish in practice: a reader can scan member boundaries
without decompressing the whole file as one stream, and a single
damaged member quarantines without poisoning its neighbors. Each
record is ``WARC/1.0\\r\\n`` + header lines + ``\\r\\n`` + a body of
exactly ``Content-Length`` bytes; ``response`` records wrap an HTTP
response (status line + HTTP headers + payload) inside the body.

Scale design (100 TB of WARC = a normal CommonCrawl slice):

- ``parse_warc_blobs`` takes ``(path, content)`` rows, the shape of
  ``spark.read.format("binaryFile")`` — one file per task, no
  driver-side listing loops. WARC shards are written ~1 GiB by
  convention, the right task granularity;
- the member scan is ONE ``mapInPandas`` pass per file (Arrow-batched;
  the only Python in the path — gzip-member framing and HTTP header
  parsing are not expressible in Spark SQL), emitting one row per
  record with typed header fields and the raw payload as ``binary``;
- malformed members QUARANTINE (``parse_error`` non-NULL, evidence
  kept) instead of aborting — the codec convention; a truncated
  final member, a bad gzip CRC, or a header violating the grammar
  costs one row, not the shard;
- downstream is the existing kit: payloads feed
  ``extraction.html_to_text``, URIs feed ``functions/web``'s
  canonicalize/eTLD+1/robots/politeness operators, dedup feeds on the
  extracted text. This module only gets bytes into rows.

Reference parity note: the reference ingests its raw zone as dated
HTML files (SURVEY S1-S5); WARC is the extension-surface analog for
crawl-scale corpora, not a reference operator.
"""

from __future__ import annotations

import io
from typing import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark import util

#: Output schema of the record scan (one row per WARC record).
WARC_RECORDS_SCHEMA = (
    "path string, member_idx bigint, warc_type string, "
    "target_uri string, warc_date string, record_id string, "
    "content_type string, content_length bigint, "
    "http_status int, http_content_type string, "
    "payload binary, parse_error string"
)

_MAX_HEADER_BYTES = 64 * 1024  # a sane WARC/HTTP header block bound


def _split_gzip_members(blob: bytes) -> Iterator[bytes]:
    """Decompress a concatenated-gzip blob one member at a time.

    ``zlib`` streams expose ``unused_data`` at end-of-member, which is
    exactly the next member's first bytes — the standard way to walk a
    multi-member file without re-scanning. A corrupt member raises to
    the caller, which quarantines it; bytes AFTER a corrupt member are
    unreachable (gzip gives no resync marker), which is the honest
    semantic every WARC reader shares.
    """
    import zlib

    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(wbits=31)  # 31 = gzip wrapper
        out = d.decompress(blob[pos:])
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        consumed = len(blob) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"empty gzip member at offset {pos}")
        yield out
        pos += consumed


def _parse_warc_record(raw: bytes) -> dict:
    """Parse one decompressed WARC record into the output row shape.
    Raises ValueError on grammar violations (caller quarantines)."""
    if not raw.startswith(b"WARC/"):
        raise ValueError("missing WARC/ magic")
    head_end = raw.find(b"\r\n\r\n", 0, _MAX_HEADER_BYTES)
    if head_end < 0:
        raise ValueError("unterminated WARC header block")
    headers: dict[str, str] = {}
    lines = raw[:head_end].split(b"\r\n")
    for line in lines[1:]:
        k, sep, v = line.partition(b":")
        if not sep:
            raise ValueError(f"malformed WARC header line {line[:50]!r}")
        headers[k.strip().decode("ascii", "replace").lower()] = \
            v.strip().decode("utf-8", "replace")
    try:
        length = int(headers["content-length"])
    except (KeyError, ValueError):
        raise ValueError("missing/bad Content-Length") from None
    body = raw[head_end + 4: head_end + 4 + length]
    if len(body) != length:
        raise ValueError(f"short body: {len(body)} of {length} bytes")
    row = {
        "warc_type": headers.get("warc-type"),
        "target_uri": headers.get("warc-target-uri"),
        "warc_date": headers.get("warc-date"),
        "record_id": headers.get("warc-record-id"),
        "content_type": headers.get("content-type"),
        "content_length": length,
        "http_status": None,
        "http_content_type": None,
        "payload": body,
        "parse_error": None,
    }
    ctype = (row["content_type"] or "").lower()
    if row["warc_type"] == "response" and "msgtype=response" in ctype.replace(" ", ""):
        row.update(_parse_http_response(body))
    return row


def _parse_http_response(body: bytes) -> dict:
    """Split an HTTP response body into (status, content-type, payload).
    Tolerant: anything that does not look like HTTP stays opaque."""
    if not body.startswith(b"HTTP/"):
        return {}
    head_end = body.find(b"\r\n\r\n", 0, _MAX_HEADER_BYTES)
    if head_end < 0:
        return {}
    lines = body[:head_end].split(b"\r\n")
    parts = lines[0].split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return {}
    ctype = None
    for line in lines[1:]:
        k, sep, v = line.partition(b":")
        if sep and k.strip().lower() == b"content-type":
            ctype = v.strip().decode("utf-8", "replace")
            break
    return {"http_status": status, "http_content_type": ctype,
            "payload": body[head_end + 4:]}


def parse_warc_blobs(df: DataFrame, path_col: str = "path",
                     content_col: str = "content") -> DataFrame:
    """One WARC file blob per input row → one output row per record
    (schema ``WARC_RECORDS_SCHEMA``), malformed members quarantined
    with ``parse_error`` and the undecodable evidence as ``payload``.

    The core scanner, separated from the file source so synthesized
    in-memory WARC bytes attest the parser end-to-end (the
    ``synthesize_hashable_audio`` pattern: the oracle checks
    ``parse(build(rows)) == rows``).
    """
    util.ensure_package_on_executors(df.sparkSession)

    def fn(it: Iterable) -> Iterator:
        import pandas as pd

        from zacks_estimates_financial_statements_spark.sources.warc import (
            _parse_warc_record,
            _split_gzip_members,
        )

        for pdf in it:
            rows = []
            for path, blob in zip(pdf[path_col], pdf[content_col]):
                blob = bytes(blob)
                idx = -1
                try:
                    for idx, raw in enumerate(_split_gzip_members(blob)):
                        base = {"path": path, "member_idx": idx}
                        try:
                            base.update(_parse_warc_record(raw))
                        except ValueError as exc:
                            base.update({
                                "payload": raw[:_MAX_HEADER_BYTES],
                                "parse_error": f"record: {exc}",
                                "content_length": None})
                        rows.append(base)
                except ValueError as exc:
                    # gzip framing damage: everything after is
                    # unreachable — one quarantine row says so
                    rows.append({"path": path, "member_idx": idx + 1,
                                 "payload": None,
                                 "content_length": None,
                                 "parse_error": f"gzip: {exc}"})
            out = pd.DataFrame(
                rows, columns=["path", "member_idx", "warc_type",
                               "target_uri", "warc_date", "record_id",
                               "content_type", "content_length",
                               "http_status", "http_content_type",
                               "payload", "parse_error"])
            yield out

    return (df.select(F.col(path_col).alias(path_col),
                      F.col(content_col).alias(content_col))
            .mapInPandas(fn, WARC_RECORDS_SCHEMA))


def build_warc_bytes(records: list[dict]) -> bytes:
    """Serialize records into deterministic ``.warc.gz`` bytes (one
    gzip member per record, mtime pinned to 0 so identical input bytes
    are identical output bytes across runs/engines). Driver/test/
    synthesis helper — the inverse the roundtrip attestation needs."""
    import gzip

    out = io.BytesIO()
    for r in records:
        body = r.get("payload", b"")
        headers = [
            ("WARC-Type", r.get("warc_type", "response")),
            ("WARC-Target-URI", r.get("target_uri", "")),
            ("WARC-Date", r.get("warc_date", "2026-01-01T00:00:00Z")),
            ("WARC-Record-ID", r.get("record_id", "<urn:uuid:0>")),
            ("Content-Type", r.get("content_type",
                                   "application/http; msgtype=response")),
            ("Content-Length", str(len(body))),
        ]
        rec = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode() for k, v in headers) \
            + b"\r\n" + body + b"\r\n\r\n"
        member = io.BytesIO()
        with gzip.GzipFile(fileobj=member, mode="wb", mtime=0) as gz:
            gz.write(rec)
        out.write(member.getvalue())
    return out.getvalue()
