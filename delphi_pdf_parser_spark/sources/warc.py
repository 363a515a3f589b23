"""WARC source: Common-Crawl-style web-archive ingestion.

The north-rule input table (url, warc_ts, html, text, lang) is what a
crawl DELIVERS as WARC files (ISO 28500): this source turns a directory
of .warc / .warc.gz files into exactly that table, from scratch — record
framing (version line, CRLF headers, Content-Length payload, CRLF CRLF
trailer), per-record gzip members (the Common Crawl convention: each
record is its own gzip member, so a whole file is a valid multi-member
stream), and HTTP response header stripping for response records.

Scale shape: `spark.read.format("binaryFile")` gives one row per WARC
file; Common Crawl ships ~1 GB segment files in the tens of thousands,
so file-level parallelism saturates any cluster (a 100 TB crawl is
~100k files → 100k tasks). Records are parsed executor-side in one
mapInPandas pass — zero per-row Python at the Spark level, no shuffle:
scan → parse → write stays a single stage.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession

from delphi_pdf_parser_spark.operators.parallelize import map_rows, page_rows

from .documents import DOCUMENTS_SCHEMA


def parse_warc(data: bytes) -> list[dict]:
    """Parse one WARC file (plain or multi-member gzip) into records:
    [{url, ts, rectype, payload}]. Response records carry the HTTP body
    as payload; other types carry the raw block."""
    if data[:2] == b"\x1f\x8b":
        import zlib

        # Common Crawl segments are ~1 GB with tens of thousands of gzip
        # members; feed each member bounded chunks through a memoryview and
        # advance by the consumed length, so ingestion is O(filesize) in
        # memcpy instead of O(members x filesize) from re-slicing the tail.
        mv = memoryview(data)
        parts = []
        pos = 0
        n = len(data)
        chunk_size = 1 << 20
        while pos < n:
            d = zlib.decompressobj(47)  # gzip member
            while not d.eof and pos < n:
                chunk = mv[pos : pos + chunk_size]
                parts.append(d.decompress(chunk))
                pos += len(chunk)
            if not d.eof:
                break  # truncated final member: keep what decoded
            # unused_data is the over-fed suffix of the last chunk only
            pos -= len(d.unused_data)
        data = b"".join(parts)
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            break  # trailing garbage: stop (tolerant)
        hdr_end = data.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = (
                v.strip().decode("latin-1")
            )
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            break
        body_start = hdr_end + 4
        block = data[body_start : body_start + length]
        pos = body_start + length
        rectype = headers.get("warc-type", "")
        payload = block
        if rectype == "response" and block[:5] == b"HTTP/":
            he = block.find(b"\r\n\r\n")
            if he >= 0:
                payload = block[he + 4 :]
        out.append(
            {
                "url": headers.get("warc-target-uri", ""),
                "ts": headers.get("warc-date", ""),
                "rectype": rectype,
                "payload": payload,
            }
        )
    return out


def _warc_rows(path: str, data: bytes) -> list:
    """The documents rows of one WARC file's response records; a corrupt
    segment raises, and ``page_rows`` skips the file."""
    rows = []
    for r in parse_warc(data):
        if r["rectype"] != "response" or not r["url"]:
            continue
        ts = None
        try:
            ts = datetime.datetime.fromisoformat(
                r["ts"].replace("Z", "+00:00")
            ).replace(tzinfo=None)
        except ValueError:
            pass
        rows.append((r["url"], ts, bytearray(r["payload"]), None, None))
    return rows


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """Directory/glob of .warc(.gz) files -> the documents table
    (url, warc_ts, html, text, lang) with text/lang NULL (they are
    downstream products of this very engine)."""
    files = (
        spark.read.format("binaryFile")
        .load(path_glob)
        .select("path", "content")
    )
    return map_rows(files, page_rows(_warc_rows), DOCUMENTS_SCHEMA)
