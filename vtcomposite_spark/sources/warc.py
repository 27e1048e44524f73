"""WARC source — read Common-Crawl-style WARC files into the pages frame.

WARC/1.0 (ISO 28500) is the container Common Crawl ships: a file is a
concatenation of records, each a CRLF header block (``WARC/1.0`` version
line + ``Name: value`` headers, terminated by an empty line) followed by
``Content-Length`` payload bytes and a ``\\r\\n\\r\\n`` trailer. Two
framings exist in the wild and both are handled by sniffing the first
two bytes: plain concatenation, and the Common-Crawl convention of one
gzip MEMBER per record concatenated back-to-back (member boundaries
recovered via ``zlib.decompressobj(wbits=31).unused_data`` — the reason
CC can range-read single records out of a 1 GB warc).

100 TB shape: ``spark.read.format("binaryFile")`` yields ONE ROW PER
FILE — for the CC convention of ~1 GB warcs that is one well-sized task
per file, and the parse is a single forward pass with no per-record
Python beyond header splitting (payload bytes are never copied twice).
binaryFile caps at 2 GB per file, which the 1 GB convention respects.
Each output row carries (warc_file, record_offset) — the byte offset of
the record (of its gzip member, in the gzipped framing) — so lineage /
resume / range re-reads address records exactly the way CC indexes do.
Downstream column pruning cannot see into the seam, so the reader takes
``keep_payload=False`` to drop bodies when only metadata is wanted.

Response records usually wrap an HTTP message; ``parse_http=True``
splits the header block off (status code kept) so ``html`` is the bare
entity body, ready for sources/pages.extract_text. ``warcinfo`` /
``request`` / ``metadata`` records are passed through with their type so
callers filter declaratively (``.filter(col('warc_type') == 'response')``
— a pushable predicate once the frame exists).

``write_warc`` is the deterministic test/bench twin (driver-side, small
scale): it writes both framings and optionally wraps payloads in a
minimal HTTP/1.1 response. Reference for the pages schema contract:
BASELINE.json input_hint (url, warc_ts, html).
"""

from __future__ import annotations

import gzip
import io
import zlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"

WARC_SCHEMA = T.StructType([
    T.StructField("warc_file", T.StringType()),
    T.StructField("record_offset", T.LongType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("html", T.BinaryType()),
])


# ---------------------------------------------------------------------------
# writer (test/bench twin)
# ---------------------------------------------------------------------------

def _warc_record_bytes(rec: dict, http_wrap: bool) -> bytes:
    payload = bytes(rec.get("payload", b""))
    if http_wrap:
        payload = (b"HTTP/1.1 200 OK\r\n"
                   b"Content-Type: text/html; charset=UTF-8\r\n"
                   b"Content-Length: " + str(len(payload)).encode() +
                   _HDR_END + payload)
    ts = rec.get("warc_ts", "2020-09-13T12:26:40Z")
    if not isinstance(ts, str):
        ts = pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%SZ")
    wtype = rec.get("warc_type", "response")
    head = [b"WARC/1.0",
            b"WARC-Type: " + wtype.encode()]
    if rec.get("url") is not None:
        head.append(b"WARC-Target-URI: " + rec["url"].encode())
    head += [b"WARC-Date: " + ts.encode(),
             b"Content-Type: application/http; msgtype=response"
             if http_wrap else b"Content-Type: application/octet-stream",
             b"Content-Length: " + str(len(payload)).encode()]
    return _CRLF.join(head) + _HDR_END + payload + _HDR_END


def write_warc(records: list[dict], path: str, per_record_gzip: bool = True,
               http_wrap: bool = True) -> None:
    """Write records (dicts: url, warc_ts, payload bytes, warc_type) as a
    WARC file — one gzip member per record (the CC convention) or plain
    concatenation. gzip members carry mtime=0 so the FILE bytes are
    deterministic (unlike pages.encode_html_pages payloads)."""
    with open(path, "wb") as fh:
        for rec in records:
            raw = _warc_record_bytes(rec, http_wrap)
            if per_record_gzip:
                buf = io.BytesIO()
                with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                    gz.write(raw)
                fh.write(buf.getvalue())
            else:
                fh.write(raw)


# ---------------------------------------------------------------------------
# parser (pure bytes → list of row dicts; the seam kernel and the tests
# share it)
# ---------------------------------------------------------------------------

def _split_gzip_members(buf: bytes):
    """Yield (member_start_offset, decompressed_bytes) per gzip member.

    The tail slice is a memoryview — a CC-convention warc holds one
    member per record (tens of thousands per GB), and a bytes slice
    here would re-copy the remaining buffer per member, turning the
    single forward pass quadratic."""
    pos = 0
    n = len(buf)
    view = memoryview(buf)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out = d.decompress(view[pos:])
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        consumed = (n - pos) - len(d.unused_data)
        yield pos, out
        pos += consumed


def _parse_record(buf: bytes, base_offset: int, rec_offset: int,
                  parse_http: bool, keep_payload: bool):
    """Parse ONE record starting at rec_offset in buf. Returns
    (row_dict, next_offset)."""
    end = buf.find(_HDR_END, rec_offset)
    if end < 0:
        raise ValueError(
            f"warc record at offset {base_offset + rec_offset}: "
            "unterminated header block")
    head = buf[rec_offset:end].split(_CRLF)
    if not head[0].startswith(b"WARC/"):
        raise ValueError(
            f"warc record at offset {base_offset + rec_offset}: "
            f"bad version line {head[0][:20]!r}")
    hdrs = {}
    for line in head[1:]:
        k, _, v = line.partition(b":")
        hdrs[k.strip().lower()] = v.strip()
    try:
        clen = int(hdrs[b"content-length"])
    except (KeyError, ValueError):
        raise ValueError(
            f"warc record at offset {base_offset + rec_offset}: "
            "missing/bad Content-Length") from None
    body_start = end + len(_HDR_END)
    payload = buf[body_start:body_start + clen]
    if len(payload) != clen:
        raise ValueError(
            f"warc record at offset {base_offset + rec_offset}: "
            f"payload truncated ({len(payload)} of {clen} bytes)")
    status = None
    if parse_http and payload.startswith(b"HTTP/"):
        sep = payload.find(_HDR_END)
        if sep >= 0:
            line = payload[:payload.find(_CRLF)].split(b" ")
            if len(line) >= 2 and line[1].isdigit():
                status = int(line[1])
            payload = payload[sep + len(_HDR_END):]
    ts = hdrs.get(b"warc-date")
    when = None
    if ts is not None and b"T" in ts:
        when = pd.Timestamp(ts.decode("ascii"))
        if when.tzinfo is not None:  # WARC-Date is UTC ("Z"); store naive UTC
            when = when.tz_convert("UTC").tz_localize(None)
    url = hdrs.get(b"warc-target-uri")
    row = {
        "record_offset": base_offset + rec_offset,
        "warc_type": hdrs.get(b"warc-type", b"").decode("ascii", "replace"),
        "url": url.decode("utf-8", "replace") if url is not None else None,
        "warc_ts": when,
        "http_status": status,
        "html": bytes(payload) if keep_payload else None,
    }
    nxt = body_start + clen
    if buf[nxt:nxt + len(_HDR_END)] == _HDR_END:
        nxt += len(_HDR_END)
    return row, nxt


def parse_warc_bytes(buf: bytes, parse_http: bool = True,
                     keep_payload: bool = True) -> list[dict]:
    """All records of one warc file's bytes (both framings, sniffed)."""
    rows = []
    if buf[:2] == b"\x1f\x8b":
        for off, chunk in _split_gzip_members(buf):
            pos = 0
            while pos < len(chunk):
                # per-member offset = member start (the CC range-read unit)
                row, pos = _parse_record(chunk, off, pos,
                                         parse_http, keep_payload)
                row["record_offset"] = off
                rows.append(row)
    else:
        pos = 0
        while pos < len(buf):
            row, pos = _parse_record(buf, 0, pos, parse_http, keep_payload)
            rows.append(row)
    return rows


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

def read_warc(spark: SparkSession, path: str, parse_http: bool = True,
              keep_payload: bool = True) -> DataFrame:
    """WARC files under ``path`` (glob ok) → one row per record
    (WARC_SCHEMA). One binaryFile row per file; the parse seam ships
    (path, content) in and never ships the file blob back out."""
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content")
    schema = WARC_SCHEMA if keep_payload else T.StructType(
        [f for f in WARC_SCHEMA.fields if f.name != "html"])

    def kernel(pdfs):
        for pdf in pdfs:
            out = []
            for p, buf in zip(pdf["path"], pdf["content"]):
                for row in parse_warc_bytes(bytes(buf), parse_http,
                                            keep_payload):
                    row["warc_file"] = p
                    if not keep_payload:
                        row.pop("html", None)
                    out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields]) \
                if out else pd.DataFrame(
                    {f.name: [] for f in schema.fields})

    return files.mapInPandas(kernel, schema=schema)


def cdx_index(records: DataFrame) -> DataFrame:
    """CC-style CDX capture index from :func:`read_warc` rows (payloads
    not required — pair with ``keep_payload=False``): one row per
    response record, keyed by the SURT of its target URI —
    (surt, warc_ts, url, warc_file, record_offset). The (file, offset)
    pair is the range-read address of the record's gzip member, exactly
    what the real CDX serves.

    100-TB shape: range-repartitioned on surt and sorted within
    partitions — one domain's captures (subdomains included) are a
    contiguous key range, so a parquet write of this frame yields
    min/max-prunable files and "everything under example.com" is a
    file-pruned prefix scan, not a corpus suffix match."""
    from ..functions.text import surt_col
    keyed = (records.filter(F.col("warc_type") == "response")
             .filter(F.col("url").isNotNull())
             .select(surt_col(F.col("url")).alias("surt"),
                     "warc_ts", "url", "warc_file", "record_offset"))
    return (keyed.repartitionByRange("surt", "warc_ts")
            .sortWithinPartitions("surt", "warc_ts"))


def surt_domain_range(domain: str,
                      include_subdomains: bool = True) -> tuple:
    """The contiguous SURT key range [lo, hi) covering ``domain`` —
    the query twin of ``cdx_index``'s layout guarantee. A SURT key
    continues the reversed-host prefix with either ')' (the exact
    host) or ',' (a subdomain label); ')' sorts below ',', so
    [prefix + ')', prefix + '-') covers exactly the domain and its
    subdomains ('-' = ','+1; a sibling host like example-foo.com
    SURTs to prefix + '-...', at/after hi, and exampleX.com sorts
    even higher). With ``include_subdomains=False`` the upper bound
    is prefix + '*' (')'+1): the exact host only."""
    d = domain.lower().strip(".")
    if not d or "/" in d or "," in d:
        raise ValueError(f"surt_domain_range: bad domain {domain!r}")
    prefix = ",".join(reversed(d.split(".")))
    return (prefix + ")", prefix + ("-" if include_subdomains else "*"))


def cdx_lookup(cdx: DataFrame, domain: str,
               include_subdomains: bool = True) -> DataFrame:
    """Range-read over a CDX frame (or a parquet scan of one written
    by ``cdx_index``): all captures under ``domain`` as ONE surt
    BETWEEN-style predicate — pushed to the scan, where the
    range-partitioned + sorted layout's min/max stats prune to the
    files the domain actually occupies (the spatial-z-range pattern,
    string edition)."""
    lo, hi = surt_domain_range(domain, include_subdomains)
    return cdx.filter((F.col("surt") >= lo) & (F.col("surt") < hi))
