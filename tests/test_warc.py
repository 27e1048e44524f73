"""WARC container source: roundtrip both framings, record offsets,
HTTP splitting, the warc → pages → extract_text e2e (north-rule byte
identity from the container inward), and loud malformed-input errors.
"""

import gzip
import os

import pandas as pd
import pytest

from pyspark.sql import functions as F

from vtcomposite_spark.sources import warc as W
from vtcomposite_spark.sources.pages import extract_text


def _mk_records(n, with_meta=True):
    recs = []
    for i in range(n):
        recs.append({
            "url": f"https://example.org/{i:04d}",
            "warc_ts": f"2020-09-13T12:26:{i % 60:02d}Z",
            "payload": f"<html><body>doc {i} body &amp; text</body></html>"
                       .encode(),
        })
    if with_meta:
        recs.insert(0, {"url": None, "warc_ts": "2020-09-13T12:00:00Z",
                        "payload": b"software: test", "warc_type": "warcinfo"})
    return recs


@pytest.mark.parametrize("per_record_gzip", [True, False])
def test_roundtrip_both_framings(spark, tmp_path, per_record_gzip):
    recs = _mk_records(6)
    path = os.path.join(tmp_path, "a.warc.gz" if per_record_gzip else "a.warc")
    W.write_warc(recs, path, per_record_gzip=per_record_gzip)

    df = W.read_warc(spark, path).orderBy("record_offset")
    rows = df.collect()
    assert len(rows) == 7
    assert rows[0].warc_type == "warcinfo" and rows[0].url is None
    resp = [r for r in rows if r.warc_type == "response"]
    assert [r.url for r in resp] == [f"https://example.org/{i:04d}"
                                     for i in range(6)]
    # http header block split off; entity body intact
    assert bytes(resp[0].html) == recs[1]["payload"]
    assert all(r.http_status == 200 for r in resp)
    # WARC-Date survives as naive UTC
    assert resp[3].warc_ts == pd.Timestamp("2020-09-13T12:26:03")
    # offsets: strictly increasing, first record at 0
    offs = [r.record_offset for r in rows]
    assert offs[0] == 0 and offs == sorted(set(offs))
    # offsets address records exactly (range-read the bytes back)
    blob = open(path, "rb").read()
    if per_record_gzip:
        for r in rows:
            assert blob[r.record_offset:r.record_offset + 2] == b"\x1f\x8b"
    else:
        for r in rows:
            assert blob[r.record_offset:r.record_offset + 7] == b"WARC/1."


def test_metadata_only_read_drops_payload(spark, tmp_path):
    path = os.path.join(tmp_path, "b.warc.gz")
    W.write_warc(_mk_records(4, with_meta=False), path)
    df = W.read_warc(spark, path, keep_payload=False)
    assert "html" not in df.columns
    assert df.count() == 4


def test_warc_pages_extract_text_e2e(spark, tmp_path):
    """Container → pages frame → extract_text: the body text written
    into the warc comes back byte-identical (entities decoded)."""
    recs = _mk_records(5, with_meta=True)
    path = os.path.join(tmp_path, "c.warc.gz")
    W.write_warc(recs, path)
    pages = (W.read_warc(spark, path, parse_http=True)
             .filter(F.col("warc_type") == "response")
             .select("url", "warc_ts", "html"))
    out = {r.url: r.extracted
           for r in extract_text(pages, keep=["url"]).collect()}
    assert out == {f"https://example.org/{i:04d}": f"doc {i} body & text"
                   for i in range(5)}


def test_no_http_wrap_and_plain_payload(spark, tmp_path):
    path = os.path.join(tmp_path, "d.warc")
    W.write_warc(_mk_records(2, with_meta=False), path,
                 per_record_gzip=False, http_wrap=False)
    rows = W.read_warc(spark, path).orderBy("record_offset").collect()
    assert all(r.http_status is None for r in rows)
    assert bytes(rows[0].html).startswith(b"<html>")


def test_deterministic_file_bytes(tmp_path):
    """mtime=0 gzip members: same records → same file bytes."""
    a, b = os.path.join(tmp_path, "x.warc.gz"), os.path.join(tmp_path, "y.warc.gz")
    W.write_warc(_mk_records(3), a)
    W.write_warc(_mk_records(3), b)
    assert open(a, "rb").read() == open(b, "rb").read()


def test_malformed_errors_are_loud(tmp_path):
    good = W._warc_record_bytes(
        {"url": "https://e.org/x", "payload": b"hi"}, http_wrap=False)
    # truncated payload
    with pytest.raises(ValueError, match="truncated"):
        W.parse_warc_bytes(good[:-6])
    # bad version line
    with pytest.raises(ValueError, match="bad version line"):
        W.parse_warc_bytes(b"NOPE/9.9\r\nContent-Length: 0\r\n\r\n\r\n\r\n")
    # missing content-length
    with pytest.raises(ValueError, match="Content-Length"):
        W.parse_warc_bytes(b"WARC/1.0\r\nWARC-Type: response\r\n\r\n")
    # truncated gzip member
    buf = gzip.compress(good)
    with pytest.raises(ValueError, match="truncated gzip member"):
        W.parse_warc_bytes(buf[:-4])


def test_cdx_index_addresses_records(spark, tmp_path):
    """CDX rows: SURT-keyed, (file, offset) addresses the record's gzip
    member exactly; sorted by (surt, ts) within range partitions."""
    recs = _mk_records(5)
    path = os.path.join(tmp_path, "e.warc.gz")
    W.write_warc(recs, path)
    idx = W.cdx_index(W.read_warc(spark, path, keep_payload=False))
    rows = idx.collect()
    assert len(rows) == 5  # warcinfo record has no URI → excluded
    assert all(r.surt.startswith("org,example)/") for r in rows)
    blob = open(path, "rb").read()
    for r in rows:
        assert blob[r.record_offset:r.record_offset + 2] == b"\x1f\x8b"
    # within-partition order is (surt, ts)
    per_part = idx.withColumn(
        "p", F.spark_partition_id()).collect()
    by_p = {}
    for r in per_part:
        by_p.setdefault(r.p, []).append((r.surt, r.warc_ts))
    for v in by_p.values():
        assert v == sorted(v)


def test_cdx_lookup_domain_range(spark, tmp_path):
    """surt_domain_range covers exactly the domain + subdomains (or the
    exact host only): sibling hosts with the prefix as a proper prefix
    of a LONGER label stay out; the predicate reaches the parquet scan
    pushed."""
    from pyspark.sql import functions as F

    from vtcomposite_spark.functions.text import surt_col
    from vtcomposite_spark.sources.warc import (cdx_lookup,
                                                surt_domain_range)
    urls = ["https://example.com/a", "https://www.example.com/b",
            "https://sub.example.com/c", "https://deep.sub.example.com/d",
            "https://example-foo.com/x", "https://examplez.com/y",
            "https://notexample.com/z", "https://example.org/w",
            "https://com.example.net/v"]
    df = spark.createDataFrame([(u,) for u in urls], "url string") \
        .select("url", surt_col(F.col("url")).alias("surt"))
    got = {r.url for r in cdx_lookup(df, "example.com").collect()}
    assert got == {"https://example.com/a", "https://www.example.com/b",
                   "https://sub.example.com/c",
                   "https://deep.sub.example.com/d"}
    exact = {r.url for r in
             cdx_lookup(df, "example.com",
                        include_subdomains=False).collect()}
    # www. is dropped by the SURT normal form → same exact-host key
    assert exact == {"https://example.com/a", "https://www.example.com/b"}
    path = str(tmp_path / "cdx")
    df.repartitionByRange(2, "surt").sortWithinPartitions("surt") \
        .write.parquet(path)
    back = cdx_lookup(spark.read.parquet(path), "example.com")
    assert {r.url for r in back.collect()} == got
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "surt" in plan
    import pytest
    with pytest.raises(ValueError):
        surt_domain_range("bad/domain")
