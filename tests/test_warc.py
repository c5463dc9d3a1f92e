"""WARC source: gzip-member framing, record grammar, HTTP unwrap,
quarantine semantics (sources/warc.py)."""

from __future__ import annotations

import gzip
import io

from zacks_estimates_financial_statements_spark.sources import warc as W


def _http_body(payload: bytes, status: int = 200,
               ctype: bytes = b"text/html") -> bytes:
    return (b"HTTP/1.1 " + str(status).encode() + b" OK\r\n"
            b"Content-Type: " + ctype + b"\r\n"
            b"X-Other: y\r\n\r\n" + payload)


def _records():
    return [
        {"warc_type": "response", "target_uri": "https://a.ex/1",
         "record_id": "<urn:uuid:1>",
         "content_type": "application/http; msgtype=response",
         "payload": _http_body(b"<html>one</html>")},
        {"warc_type": "resource", "target_uri": "https://a.ex/2",
         "record_id": "<urn:uuid:2>", "content_type": "text/plain",
         "payload": b"plain payload two"},
        {"warc_type": "warcinfo", "target_uri": "",
         "record_id": "<urn:uuid:3>",
         "content_type": "application/warc-fields",
         "payload": b"software: test\r\n"},
    ]


def _blob_df(spark, blob: bytes, path="mem://x.warc.gz"):
    return spark.createDataFrame([(path, bytearray(blob))],
                                 "path string, content binary")


def test_warc_roundtrip_parses_every_record(spark):
    blob = W.build_warc_bytes(_records())
    rows = {r["member_idx"]: r for r in
            W.parse_warc_blobs(_blob_df(spark, blob)).collect()}
    assert len(rows) == 3
    assert all(r["parse_error"] is None for r in rows.values())
    r0 = rows[0]
    # the HTTP wrapper unwraps: status + inner content-type + payload
    assert (r0["warc_type"], r0["http_status"],
            r0["http_content_type"]) == ("response", 200, "text/html")
    assert bytes(r0["payload"]) == b"<html>one</html>"
    r1 = rows[1]
    assert r1["http_status"] is None  # not an HTTP record
    assert bytes(r1["payload"]) == b"plain payload two"
    assert r1["target_uri"] == "https://a.ex/2"
    assert rows[2]["warc_type"] == "warcinfo"


def test_warc_truncated_member_quarantines_tail(spark):
    recs = _records()
    good = W.build_warc_bytes(recs[:1])
    bad = W.build_warc_bytes(recs[1:2])
    blob = good + bad[: len(bad) // 2]  # damage the SECOND member
    rows = sorted(W.parse_warc_blobs(_blob_df(spark, blob)).collect(),
                  key=lambda r: r["member_idx"])
    assert len(rows) == 2
    assert rows[0]["parse_error"] is None
    assert bytes(rows[0]["payload"]) == b"<html>one</html>"
    assert rows[1]["parse_error"].startswith("gzip:")


def test_warc_bad_record_grammar_quarantines_one_row(spark):
    member = io.BytesIO()
    with gzip.GzipFile(fileobj=member, mode="wb", mtime=0) as gz:
        gz.write(b"NOT-A-WARC-RECORD")
    blob = member.getvalue() + W.build_warc_bytes(_records()[:1])
    rows = sorted(W.parse_warc_blobs(_blob_df(spark, blob)).collect(),
                  key=lambda r: r["member_idx"])
    # a bad RECORD costs one row; the next gzip member still parses
    assert rows[0]["parse_error"].startswith("record:")
    assert rows[1]["parse_error"] is None
    assert rows[1]["target_uri"] == "https://a.ex/1"


def test_warc_short_body_is_record_error_not_crash(spark):
    rec = (b"WARC/1.0\r\nWARC-Type: resource\r\n"
           b"Content-Length: 999\r\n\r\nshort")
    member = io.BytesIO()
    with gzip.GzipFile(fileobj=member, mode="wb", mtime=0) as gz:
        gz.write(rec)
    (row,) = W.parse_warc_blobs(_blob_df(spark, member.getvalue())).collect()
    assert "short body" in row["parse_error"]


