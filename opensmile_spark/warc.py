"""WARC (ISO 28500 / WARC 1.0) ingest — the container a web crawl
actually arrives in.

A 100 TB pretraining corpus starts life as .warc.gz archives (the
CommonCrawl layout: ~1 GB files, one gzip member per record). This
module is the source boundary that turns them into the documents table
the rest of the pipeline (urlops -> htmlops -> text quality -> dedup ->
pack) consumes:

  read_warc(spark, path)      binaryFile scan -> one Arrow-batched
                              mapInPandas split per archive -> a row per
                              WARC record with parsed headers + payload
  warc_to_documents(df)       response records -> (url, html/text) rows,
                              charset-decoded, chunked-transfer-decoded
  write_warc / parse_warc     pure-python writer/reader used by tests
                              and the synthetic corpus (no external data)

Scale shape: WARC archives are processed one-per-task (binaryFile is
non-splittable, and the per-record-gzip layout means a task streams
members without materializing the decompressed archive). At the
CommonCrawl standard ~1 GB/file that is the right task granularity for
a 1000-executor scan; record-offset index splitting is a catalog-level
optimization deliberately out of scope. All record splitting happens
executor-side in one pass; the driver never sees payload bytes.

Format notes (ISO 28500): records are
  'WARC/1.0\\r\\n' + named headers + '\\r\\n' + Content-Length payload
  bytes + '\\r\\n\\r\\n'
and a .warc.gz is a bare concatenation of per-record gzip members
(RFC 1952 multi-member). Both plain and gzip layouts are handled.

Reference analogy: like htmlops/urlops this is the reference's
source-component normalization boundary (SURVEY.md §2.1,
/root/reference/src/iocore/waveSource.cpp:1) for the crawl modality.
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CRLF = b"\r\n"

# Output schema of read_warc (one row per WARC record).
RECORD_SCHEMA = ("warc_file string, record_idx long, record_id string, "
                 "warc_type string, warc_date string, target_uri string, "
                 "content_type string, http_status int, "
                 "http_content_type string, payload binary, "
                 "parse_error string")


def write_warc(records: list[dict], gzip_per_record: bool = True) -> bytes:
    """Serialize records to a spec-valid WARC byte stream.

    Each record dict: warc_type, target_uri (optional), record_id,
    warc_date, and either `payload` (bytes, written verbatim) or
    `http_status`/`http_headers`/`body` (assembled into an HTTP/1.1
    response block, the WARC 'response' convention).
    """
    out = bytearray()
    for r in records:
        payload = r.get("payload")
        if payload is None:
            status = r.get("http_status", 200)
            hdrs = dict(r.get("http_headers", {}))
            body = r.get("body", b"")
            if isinstance(body, str):
                body = body.encode("utf-8")
            hdrs.setdefault("Content-Type", "text/html; charset=utf-8")
            hdrs.setdefault("Content-Length", str(len(body)))
            head = (f"HTTP/1.1 {status} OK\r\n"
                    + "".join(f"{k}: {v}\r\n" for k, v in hdrs.items())
                    + "\r\n").encode("latin-1")
            payload = head + body
        lines = [b"WARC/1.0"]
        fields = {
            "WARC-Type": r.get("warc_type", "response"),
            "WARC-Record-ID": r.get(
                "record_id", f"<urn:uuid:rec-{len(out)}>"),
            "WARC-Date": r.get("warc_date", "2026-01-01T00:00:00Z"),
            "Content-Type": r.get(
                "content_type",
                "application/http; msgtype=response"
                if r.get("warc_type", "response") == "response"
                else "application/octet-stream"),
            "Content-Length": str(len(payload)),
        }
        if r.get("target_uri"):
            fields["WARC-Target-URI"] = r["target_uri"]
        for k, v in fields.items():
            lines.append(f"{k}: {v}".encode("latin-1"))
        rec = _CRLF.join(lines) + _CRLF * 2 + payload + _CRLF * 2
        out += gzip.compress(rec) if gzip_per_record else rec
    return bytes(out)


def _gunzip_members(data: bytes) -> bytes:
    """Concatenated decompression of an RFC 1952 multi-member stream."""
    out = bytearray()
    while data:
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(data)
        out += d.flush()
        data = d.unused_data
    return bytes(out)


def _dechunk(body: bytes) -> bytes:
    """Decode an HTTP/1.1 chunked transfer-encoded body."""
    out, pos = bytearray(), 0
    while pos < len(body):
        nl = body.find(_CRLF, pos)
        if nl < 0:
            break
        size_tok = body[pos:nl].split(b";")[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            break
        if size == 0:
            break
        out += body[nl + 2:nl + 2 + size]
        pos = nl + 2 + size + 2
    return bytes(out)


def _parse_http(payload: bytes) -> tuple[int | None, dict, bytes]:
    """Split an HTTP response block into (status, headers, body)."""
    sep = payload.find(_CRLF * 2)
    if sep < 0 or not payload.startswith(b"HTTP/"):
        return None, {}, payload
    head = payload[:sep].decode("latin-1", "replace")
    body = payload[sep + 4:]
    lines = head.split("\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = None
    hdrs: dict[str, str] = {}
    for ln in lines[1:]:
        if ":" in ln:
            k, v = ln.split(":", 1)
            hdrs[k.strip().lower()] = v.strip()
    if hdrs.get("transfer-encoding", "").lower() == "chunked":
        body = _dechunk(body)
    return status, hdrs, body


def parse_warc(data: bytes) -> Iterator[dict]:
    """Iterate records of a WARC byte stream (plain or per-member gzip).

    Yields dicts with the RECORD_SCHEMA fields (minus warc_file /
    record_idx, which the Spark layer adds). A malformed tail yields one
    final record with parse_error set instead of raising — at corpus
    scale a truncated archive must not kill the task.
    """
    if data[:2] == b"\x1f\x8b":
        try:
            data = _gunzip_members(data)
        except zlib.error as e:
            yield _err_rec(f"gzip: {e}")
            return
    pos = 0
    while pos < len(data):
        # skip inter-record padding
        while data[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= len(data):
            return
        err = None
        hdr_end = data.find(_CRLF * 2, pos)
        if not data.startswith(b"WARC/", pos) or hdr_end < 0:
            yield _err_rec("bad record header at offset %d" % pos)
            return
        hdrs: dict[str, str] = {}
        for ln in data[pos:hdr_end].decode("latin-1",
                                           "replace").split("\r\n")[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                hdrs[k.strip().lower()] = v.strip()
        try:
            clen = int(hdrs.get("content-length", ""))
        except ValueError:
            yield _err_rec("missing Content-Length at offset %d" % pos)
            return
        payload = data[hdr_end + 4:hdr_end + 4 + clen]
        if len(payload) < clen:
            err = f"truncated payload: {len(payload)}/{clen} bytes"
        ctype = hdrs.get("content-type", "")
        status, http_hdrs, body = (None, {}, payload)
        if ctype.startswith("application/http"):
            status, http_hdrs, body = _parse_http(payload)
        yield {
            "record_id": hdrs.get("warc-record-id"),
            "warc_type": hdrs.get("warc-type"),
            "warc_date": hdrs.get("warc-date"),
            "target_uri": hdrs.get("warc-target-uri"),
            "content_type": ctype,
            "http_status": status,
            "http_content_type": http_hdrs.get("content-type"),
            "payload": body,
            "parse_error": err,
        }
        if err:
            return
        pos = hdr_end + 4 + clen


def _err_rec(msg: str) -> dict:
    return {"record_id": None, "warc_type": None, "warc_date": None,
            "target_uri": None, "content_type": None, "http_status": None,
            "http_content_type": None, "payload": None, "parse_error": msg}


def read_warc(spark, path: str) -> DataFrame:
    """Scan WARC archives into one row per record.

    binaryFile source (one archive per task; the scan parallelizes
    across archives, which is how a 1000-executor crawl read is laid
    out), record splitting in an Arrow-batched mapInPandas kernel. The
    `content` column is dropped from the output schema, so Spark never
    carries the raw archive past the split.
    """

    def run(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for path_, blob in zip(pdf["path"], pdf["content"]):
                for i, rec in enumerate(parse_warc(bytes(blob))):
                    rec["warc_file"] = path_
                    rec["record_idx"] = i
                    rows.append(rec)
            cols = ["warc_file", "record_idx", "record_id", "warc_type",
                    "warc_date", "target_uri", "content_type",
                    "http_status", "http_content_type", "payload",
                    "parse_error"]
            yield pd.DataFrame(rows, columns=cols)

    raw = spark.read.format("binaryFile").load(path) \
        .select("path", "content")
    return raw.mapInPandas(run, schema=RECORD_SCHEMA)


def warc_to_documents(df: DataFrame, min_status: int = 200,
                      max_status: int = 299) -> DataFrame:
    """Response records -> (url, html) document rows.

    Keeps 2xx text/html responses, decodes the body (charset from the
    HTTP Content-Type when present, utf-8 with replacement otherwise —
    a crawl always contains mojibake and one bad page must not fail the
    scan), and emits (warc_file, record_idx, url, html). Downstream:
    urlops.normalize_url for the dedup key, htmlops.html_to_text for
    the text.
    """
    recs = df.filter(
        (F.col("warc_type") == "response")
        & F.col("parse_error").isNull()
        & F.col("http_status").between(min_status, max_status)
        & F.col("http_content_type").startswith("text/html"))

    charset = F.lower(F.regexp_extract(
        "http_content_type", r"(?i)charset=([A-Za-z0-9_\-]+)", 1))
    # built-in decode() covers the dominant charsets; anything else
    # falls back to utf-8-with-replacement via try_ (never task-fatal)
    html = F.when(charset.isin("latin-1", "iso-8859-1"),
                  F.decode("payload", "ISO-8859-1")) \
        .otherwise(F.expr(
            "try_cast(payload as string)"))
    return recs.select(
        "warc_file", "record_idx",
        F.col("target_uri").alias("url"),
        html.alias("html"))
