"""CDX/CDXJ crawl-index source + ranged fetch (sources/cdx.py):
SURT canonicalization (python/Column twins in lockstep + independent
expected literals), index building over all three container layouts
with fetchable byte extents, CDXJ/classic-CDX text round-trips
(JVM-side plans), ranged fetch == full-scan equality, the labeled
``_error`` contract on every failure mode, and the plan-shape gates
(one task per container grain; no Python in the text index scans)."""

from __future__ import annotations

import gzip
import io

import pytest
from pyspark.sql import functions as F

from gluestick_ts_spark.sources.cdx import (
    fetch_warc_records,
    index_warc,
    read_cdx,
    read_cdxj,
    surt,
    surt_expr,
    write_cdxj,
)
from gluestick_ts_spark.sources.warc import read_warc, warc_encode


def _http(body: bytes, ct: str = "text/html") -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ct.encode()
        + b"\r\nContent-Length: " + str(len(body)).encode()
        + b"\r\n\r\n" + body
    )


def _capture(i: int, status: bytes = b"200 OK", ct: str = "text/html") -> dict:
    body = f"<html>document {i} body text</html>".encode()
    http = (
        b"HTTP/1.1 " + status + b"\r\nContent-Type: " + ct.encode()
        + b"\r\n\r\n" + body
    )
    return {
        "warc_type": "response",
        "url": f"http://www.site{i % 3}.com/page/{i}?b=2&a=1",
        "warc_date": f"2024-01-02T03:04:{i:02d}Z",
        "content_type": "application/http; msgtype=response",
        "body": http,
    }


@pytest.fixture(scope="module")
def crawl_dir(tmp_path_factory):
    """12 captures across the three container layouts: per-record gzip
    (the seekable spec layout), plain, and whole-file gzip (the
    non-seekable wild layout)."""
    d = tmp_path_factory.mktemp("cdx_crawl")
    recs = [_capture(i) for i in range(12)]
    recs[5]["body"] = (
        b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\ngone"
    )
    (d / "a.warc.gz").write_bytes(warc_encode(recs[:4], per_record_gzip=True))
    (d / "b.warc").write_bytes(warc_encode(recs[4:8], per_record_gzip=False))
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(warc_encode(recs[8:], per_record_gzip=False))
    (d / "c.warc.gz").write_bytes(buf.getvalue())
    return str(d)


# ---------------------------------------------------------------- SURT

# independent expected literals (IA SURT examples style), NOT derived
# from either implementation — the lockstep test below would otherwise
# pass on a shared bug
SURT_CASES = [
    ("http://www.Example.com/a?b=2&a=1", "com,example)/a?a=1&b=2"),
    ("https://example.com:443/", "com,example)/"),
    ("http://example.com:80/Path/X", "com,example)/path/x"),
    ("http://sub.example.co.uk/p", "uk,co,example,sub)/p"),
    ("http://user:pw@www2.foo.org/p#frag", "org,foo)/p"),
    ("https://example.com", "com,example)/"),
    ("http://example.com/?", "com,example)/"),
    ("http://example.com/a?x&x&", "com,example)/a?x&x"),
    ("HTTP://WWW.UPPER.NET/Q?Z=1", "net,upper)/q?z=1"),
    ("no-scheme.com/x", "com,no-scheme)/x"),
    ("http://example.com:8080/x", "com,example:8080)/x"),
]


def test_surt_expected_literals():
    for url, want in SURT_CASES:
        assert surt(url) == want, url


def test_surt_expr_matches_python_twin(spark):
    urls = [u for u, _ in SURT_CASES] + [
        "http://a.b.c.d.example.com/deep/path/?q=3&q=1&q=2",
        "ftp://files.example.org/pub",
        "http://example.com/%7Euser",
        "",
        "   http://spaced.example.com/x   ",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.s for r in df.select(surt_expr("url").alias("s")).collect()]
    assert got == [surt(u) for u in urls]


# ------------------------------------------------------------- indexing

def test_index_warc_all_layouts(spark, crawl_dir):
    idx = index_warc(spark, crawl_dir).cache()
    rows = idx.collect()
    assert len(rows) == 12
    assert all(r.warc_type == "response" and r.error is None for r in rows)
    assert all(r.urlkey == surt(r.url) for r in rows)
    assert all(r.timestamp == f"202401020304{int(r.url.split('/')[-1].split('?')[0]):02d}" for r in rows)
    assert all(r.mime == "text/html" for r in rows)
    assert {r.status for r in rows} == {200, 404}
    # extents by layout: per-record gzip has per-record offsets and
    # rec_offset 0; whole-file gzip shares (0, filelen) and moves
    # rec_offset; plain carries the record's own byte extent
    per_rec = [r for r in rows if r.filename.endswith("a.warc.gz")]
    assert sorted(r.rec_offset for r in per_rec) == [0, 0, 0, 0]
    assert len({r.offset for r in per_rec}) == 4
    whole = [r for r in rows if r.filename.endswith("c.warc.gz")]
    assert {r.offset for r in whole} == {0}
    assert len({r.rec_offset for r in whole}) == 4
    assert len({r.length for r in whole}) == 1
    plain = [r for r in rows if r.filename.endswith("b.warc")]
    assert len({r.offset for r in plain}) == 4
    assert all(r.rec_offset == 0 for r in plain)
    # digests: 40-char base32 sha1 over the payload (headers excluded),
    # distinct per distinct body
    assert all(len(r.digest) == 32 and r.digest.isupper() for r in rows)
    assert len({r.digest for r in rows}) == 12


def test_index_extents_are_real_byte_ranges(spark, crawl_dir):
    """Slicing the container file at (offset, length) yields bytes
    that decode to a WARC record — the index is byte-accurate, not
    bookkeeping."""
    idx = index_warc(spark, crawl_dir).collect()
    for r in idx:
        path = r.filename.removeprefix("file:")
        with open(path, "rb") as f:
            f.seek(r.offset)
            raw = f.read(r.length)
        assert len(raw) == r.length
        if raw[:2] == b"\x1f\x8b":
            raw = gzip.decompress(raw)
        assert raw[r.rec_offset : r.rec_offset + 5] == b"WARC/"


def test_index_warc_stamped_digest_wins(spark, tmp_path):
    """A crawler-stamped WARC-Payload-Digest header is taken verbatim
    (scheme tag dropped) — indexing must not re-hash what the crawler
    already hashed."""
    raw = warc_encode([_capture(0)], per_record_gzip=False)
    raw = raw.replace(
        b"WARC-Type: response",
        b"WARC-Type: response\r\n"
        b"WARC-Payload-Digest: sha1:STAMPEDB32VALUE",
        1,
    )
    (tmp_path / "d.warc").write_bytes(raw)
    idx = index_warc(spark, str(tmp_path)).collect()
    assert idx[0].digest == "STAMPEDB32VALUE"


def test_index_warc_corrupt_container_labeled(spark, tmp_path):
    good = warc_encode([_capture(0)], per_record_gzip=True)
    (tmp_path / "good.warc.gz").write_bytes(good)
    (tmp_path / "bad.warc.gz").write_bytes(good[: len(good) // 2])
    idx = index_warc(spark, str(tmp_path))
    errs = idx.where("warc_type = '_error'").collect()
    assert len(errs) == 1 and "bad.warc.gz" in errs[0].filename
    assert idx.where("warc_type = 'response'").count() == 1


def test_index_warc_oversized_container_labeled(spark, tmp_path):
    (tmp_path / "e.warc").write_bytes(warc_encode([_capture(0)], False))
    spark.conf.set("spark.sql.sources.binaryFile.maxLength", "10")
    try:
        rows = index_warc(spark, str(tmp_path)).collect()
    finally:
        spark.conf.unset("spark.sql.sources.binaryFile.maxLength")
    assert len(rows) == 1
    assert rows[0].warc_type == "_error"
    assert "ceiling" in rows[0].error


# --------------------------------------------------- CDXJ / classic CDX

def test_cdxj_round_trip_sorted(spark, crawl_dir, tmp_path):
    idx = index_warc(spark, crawl_dir)
    out = str(tmp_path / "cdxj")
    write_cdxj(idx, out)
    # written lines are globally sorted by (urlkey, timestamp): the
    # part files hold disjoint ordered ranges, so part-ordered concat
    # is fully sorted
    import glob

    lines = []
    for p in sorted(glob.glob(out + "/part-*")):
        with open(p) as f:
            lines += [ln.rstrip("\n") for ln in f]
    keys = [(ln.split(" ", 2)[0], ln.split(" ", 2)[1]) for ln in lines]
    assert keys == sorted(keys)
    back = read_cdxj(spark, out)
    cols = ["urlkey", "timestamp", "url", "mime", "status", "digest",
            "length", "offset", "rec_offset", "filename", "warc_type"]
    a = sorted(map(tuple, idx.where("urlkey is not null").select(*cols).collect()))
    b = sorted(map(tuple, back.select(*cols).collect()))
    assert a == b


def test_read_cdxj_bad_line_labeled(spark, tmp_path):
    p = tmp_path / "cdxj"
    p.mkdir()
    (p / "part-00000").write_text(
        'com,ok)/ 20240101000000 {"url":"http://ok/","status":"200",'
        '"length":"5","offset":"0","rec_offset":"0",'
        '"filename":"f.warc.gz","mime":"text/html","digest":"D",'
        '"warc_type":"response"}\n'
        "garbage line without json\n"
    )
    rows = read_cdxj(spark, str(p)).collect()
    good = [r for r in rows if r.error is None]
    bad = [r for r in rows if r.error is not None]
    assert len(good) == 1 and good[0].status == 200 and good[0].length == 5
    assert len(bad) == 1 and "garbage" in bad[0].error
    assert bad[0].urlkey is None


def test_read_classic_cdx11(spark, tmp_path):
    p = tmp_path / "cdx"
    p.mkdir()
    (p / "part-00000").write_text(
        " CDX N b a m s k r M S V g\n"
        "com,example)/ 20240102030405 http://example.com/ text/html 200 "
        "ABCDEF - - 1234 5678 crawl-00.warc.gz\n"
        "com,example)/x 20240102030406 http://example.com/x - - - - - "
        "99 0 crawl-00.warc.gz\n"
    )
    rows = read_cdx(spark, str(p)).orderBy("urlkey").collect()
    assert len(rows) == 2
    r = rows[0]
    assert (r.urlkey, r.timestamp, r.status, r.digest, r.length, r.offset,
            r.filename) == ("com,example)/", "20240102030405", 200, "ABCDEF",
                            1234, 5678, "crawl-00.warc.gz")
    assert rows[1].mime is None and rows[1].status is None
    assert all(r.rec_offset == 0 and r.error is None for r in rows)


# -------------------------------------------------------- ranged fetch

def test_fetch_equals_full_scan_all_layouts(spark, crawl_dir, tmp_path):
    """The headline contract: index -> filter -> fetch returns rows
    identical to the full scan's for the same records, across every
    layout (per-record gzip / plain / whole-file gzip)."""
    idx = index_warc(spark, crawl_dir)
    out = str(tmp_path / "cdxj")
    write_cdxj(idx, out)
    sel = read_cdxj(spark, out).where("urlkey like 'com,site1%'")
    urls = [r.url for r in sel.collect()]
    assert len(urls) == 4  # one per layout at least
    fetched = fetch_warc_records(spark, sel)
    full = read_warc(spark, crawl_dir).where(F.col("url").isin(urls))
    key = lambda r: (  # noqa: E731 — record_offset intentionally excluded
        r.url, r.warc_date, r.http_status, r.http_content_type, r.text,
        bytes(r.payload), r.truncated,
    )
    assert sorted(map(key, fetched.collect())) == sorted(
        map(key, full.collect())
    )
    assert fetched.where("error is not null").count() == 0


def test_fetch_text_only_projection(spark, crawl_dir):
    idx = index_warc(spark, crawl_dir).where("status = 200")
    rows = fetch_warc_records(spark, idx, emit_payload=False).collect()
    assert all(r.payload is None for r in rows)
    assert all("body text" in r.text for r in rows)


def test_fetch_error_rows_not_task_deaths(spark, crawl_dir):
    entries = spark.createDataFrame(
        [
            (f"file:{crawl_dir}/a.warc.gz", 999_999, 64, 0),  # past EOF
            (f"{crawl_dir}/missing.warc.gz", 0, 64, 0),  # no such file
            (f"{crawl_dir}/b.warc", 3, 64, 0),  # mid-record garbage
        ],
        "filename string, offset long, length long, rec_offset long",
    )
    rows = fetch_warc_records(spark, entries).collect()
    assert len(rows) == 3
    assert all(r.warc_type == "_error" and r.error for r in rows)


def test_fetch_plan_shape(spark, crawl_dir):
    """One exchange (the by-filename repartition) then the Arrow
    mapper — selected extents are the only bytes that move, and the
    fetch never touches the binaryFile source."""
    idx = index_warc(spark, crawl_dir).where("status = 200")
    plan = fetch_warc_records(
        spark, idx.select("filename", "offset", "length", "rec_offset")
        .localCheckpoint()
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "MapInPandas" in plan
    assert "binaryFile" not in plan


def test_cdxj_scan_plan_is_jvm_side(spark, crawl_dir, tmp_path):
    """The index text scans stay Python-free: filtering a crawl by
    CDX must not pay an Arrow boundary."""
    out = str(tmp_path / "cdxj")
    write_cdxj(index_warc(spark, crawl_dir), out)
    plan = (
        read_cdxj(spark, out)
        .where("status = 200")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


# ------------------------------------------------------ latest_captures

def test_latest_captures_selection(spark):
    from gluestick_ts_spark.sources.cdx import latest_captures

    rows = [
        # urlkey, ts, status, mime, digest, filename, offset
        ("com,a)/", "20240101000000", 200, "text/html", "D1", "f1", 0),
        ("com,a)/", "20240301000000", 200, "text/html", "D2", "f2", 0),  # latest
        ("com,a)/", "20240201000000", 404, "text/html", "D3", "f3", 0),  # 404 out
        ("com,b)/", "20240101000000", 200, "text/html", "D2", "f1", 9),  # mirror of a's latest
        ("com,c)/", "20240101000000", 200, "image/png", "D4", "f1", 5),  # mime out
        ("com,d)/", None, 200, "text/html", None, "f9", 7),  # null ts still selectable
    ]
    idx = spark.createDataFrame(
        [
            (k, t, f"http://{k}", m, s, d, 10, o, 0, fn, "response", None)
            for (k, t, s, m, d, fn, o) in rows
        ],
        "urlkey string, timestamp string, url string, mime string, "
        "status int, digest string, length long, offset long, "
        "rec_offset long, filename string, warc_type string, error string",
    )
    got = {
        r.urlkey: r
        for r in latest_captures(idx, mime_prefix="text/").collect()
    }
    assert set(got) == {"com,a)/", "com,b)/", "com,d)/"}
    assert got["com,a)/"].timestamp == "20240301000000"  # latest wins
    # digest collapse: a's latest and b captured identical payloads ->
    # one representative (smallest urlkey)
    got2 = {
        r.urlkey
        for r in latest_captures(
            idx, mime_prefix="text/", dedup_digest=True
        ).collect()
    }
    assert got2 == {"com,a)/", "com,d)/"}  # b folded into a; null digest kept


def test_latest_captures_end_to_end_recrawl(spark, tmp_path):
    """Index a two-crawl layout (same url captured twice, content
    changed) — latest_captures -> fetch returns ONLY the newer body."""
    from gluestick_ts_spark.sources.cdx import latest_captures

    def cap(body: bytes, ts: str) -> dict:
        return {
            "warc_type": "response",
            "url": "http://site.com/page",
            "warc_date": ts,
            "content_type": "application/http; msgtype=response",
            "body": b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
            + body,
        }

    (tmp_path / "crawl1.warc.gz").write_bytes(
        warc_encode([cap(b"old content", "2024-01-01T00:00:00Z")])
    )
    (tmp_path / "crawl2.warc.gz").write_bytes(
        warc_encode([cap(b"new content", "2024-06-01T00:00:00Z")])
    )
    idx = index_warc(spark, str(tmp_path))
    sel = latest_captures(idx)
    fetched = fetch_warc_records(spark, sel).collect()
    assert len(fetched) == 1
    assert fetched[0].text == "new content"


def test_cdxj_gzip_round_trip(spark, crawl_dir, tmp_path):
    """Common Crawl ships its index gzipped (cdx-*.gz): a compressed
    write round-trips through the same reader (Hadoop codec decode is
    transparent), byte-content equal to the plain write."""
    import glob

    plain, gz = str(tmp_path / "plain"), str(tmp_path / "gz")
    idx = index_warc(spark, crawl_dir)
    write_cdxj(idx, plain)
    write_cdxj(idx, gz, compression="gzip")
    assert glob.glob(gz + "/part-*.txt.gz")
    cols = ["urlkey", "timestamp", "url", "status", "length", "offset",
            "rec_offset", "filename"]
    a = sorted(map(tuple, read_cdxj(spark, plain).select(*cols).collect()))
    b = sorted(map(tuple, read_cdxj(spark, gz).select(*cols).collect()))
    assert a == b and len(a) == 12


def test_space_in_url_survives_cdxj(spark, tmp_path):
    """Literal spaces in capture URLs percent-encode into the SURT key
    (the CDXJ line format is space-delimited — an unescaped space
    would shear the reader's split and silently lose the row)."""
    rec = _capture(0)
    rec["url"] = "http://x.com/a b/c?q=1 2"
    (tmp_path / "s.warc.gz").write_bytes(warc_encode([rec]))
    idx = index_warc(spark, str(tmp_path))
    key = idx.first().urlkey
    assert " " not in key
    assert key == surt(rec["url"]) == "com,x)/a%20b/c?q=1%202"
    out = str(tmp_path / "ix")
    write_cdxj(idx, out)
    back = read_cdxj(spark, out).collect()
    assert len(back) == 1 and back[0].error is None
    assert back[0].url == rec["url"]  # the raw URL rides the json
    fetched = fetch_warc_records(spark, read_cdxj(spark, out))
    assert fetched.first().url == rec["url"]
    # expr twin agrees on the encoded form
    got = (
        spark.createDataFrame([(rec["url"],)], "url string")
        .select(surt_expr("url").alias("s"))
        .first()
        .s
    )
    assert got == key


def test_partial_warc_date_yields_null_timestamp(spark, tmp_path):
    """A truncated WARC-Date maps to a NULL timestamp (never a partial
    one — partial digits would sort strictly older than every full
    timestamp and always lose latest_captures' election)."""
    from gluestick_ts_spark.sources.cdx import _cdx_timestamp, latest_captures

    assert _cdx_timestamp("2024-01-02") is None
    assert _cdx_timestamp("garbage") is None
    assert _cdx_timestamp("2024-01-02T03:04:05Z") == "20240102030405"
    rec = _capture(0)
    rec["warc_date"] = "2024-01-02"  # truncated
    rec2 = _capture(0)
    rec2["warc_date"] = "2023-06-01T00:00:00Z"  # older but COMPLETE
    (tmp_path / "t.warc").write_bytes(warc_encode([rec, rec2], False))
    idx = index_warc(spark, str(tmp_path))
    rows = {r.timestamp for r in idx.collect()}
    assert rows == {None, "20230601000000"}
    # null timestamps sort LAST (desc_nulls_last): the complete date wins
    win = latest_captures(idx).first()
    assert win.timestamp == "20230601000000"


# ------------------------------------------- round-13 hardening fixes

def test_surt_space_in_authority_escaped(spark):
    """A space surviving in the AUTHORITY (not just path/query) must
    escape too: the CDXJ line format is space-delimited, and a space
    anywhere in the urlkey shears the 3-way split on round-trip."""
    urls = ["http://bad host.com/x", "http://ex.com/a b?c d=1", "a b/c d"]
    for u in urls:
        assert " " not in surt(u), u
    got = [
        r.s
        for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select(surt_expr("url").alias("s"))
        .collect()
    ]
    assert got == [surt(u) for u in urls]


def test_surt_non_ascii_param_order_matches_python(spark):
    """Query-param sorting is UTF-8 BYTE order in both twins — BMP
    non-ASCII and astral-plane (emoji) params included, where Java's
    default UTF-16 code-unit compare would diverge from Python."""
    urls = [
        "http://example.com/a?\U0001F600=1&z=2&é=3",
        "http://example.com/a?！=x&\U0001F680=y&b=0",
        "http://example.com/?\U0001F600a=1&=2",  # surrogate-order trap
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.s for r in df.select(surt_expr("url").alias("s")).collect()]
    assert got == [surt(u) for u in urls]


def test_read_cdxj_malformed_numeric_is_error_row(spark, tmp_path):
    """A present-but-uncastable numeric field (third-party index
    garbage) folds the LINE into the error sentinel — it must never
    throw CAST_INVALID_INPUT under ANSI mode and kill the read."""
    p = tmp_path / "cdxj"
    p.mkdir()
    (p / "part-00000").write_text(
        'com,ok)/ 20240101000000 {"url":"http://ok/","status":"200",'
        '"length":"5","offset":"0","rec_offset":"0",'
        '"filename":"f.warc.gz"}\n'
        'com,bad)/ 20240101000001 {"url":"http://bad/","status":"abc",'
        '"length":"5","offset":"0","rec_offset":"0",'
        '"filename":"f.warc.gz"}\n'
        'com,bad2)/ 20240101000002 {"url":"http://bad2/","status":"200",'
        '"length":"NaNopes","offset":"0","rec_offset":"0",'
        '"filename":"f.warc.gz"}\n'
    )
    rows = read_cdxj(spark, str(p)).collect()  # must not raise
    good = [r for r in rows if r.error is None]
    bad = [r for r in rows if r.error is not None]
    assert len(good) == 1 and good[0].urlkey == "com,ok)/"
    assert len(bad) == 2
    assert all(r.urlkey is None and r.filename is None for r in bad)
    assert any("abc" in r.error for r in bad)


def test_read_cdx_malformed_numeric_is_error_row(spark, tmp_path):
    p = tmp_path / "cdx"
    p.mkdir()
    (p / "part-00000").write_text(
        "com,example)/ 20240102030405 http://example.com/ text/html abc "
        "D - - 1234 5678 crawl-00.warc.gz\n"
        "com,example)/y 20240102030406 http://example.com/y text/html 200 "
        "D - - nope 5678 crawl-00.warc.gz\n"
        "com,example)/z 20240102030407 http://example.com/z text/html 200 "
        "D - - 12 34 crawl-00.warc.gz\n"
    )
    rows = read_cdx(spark, str(p)).collect()  # must not raise
    good = [r for r in rows if r.error is None]
    bad = [r for r in rows if r.error is not None]
    assert len(good) == 1 and good[0].urlkey == "com,example)/z"
    assert len(bad) == 2 and all(r.status is None for r in bad)


def test_fetch_null_extent_is_error_row(spark, crawl_dir):
    """Null offset/length entries (what read_cdxj emits for its own
    error lines) become labeled _error rows, never an int(NaN) task
    death in the mapper."""
    entries = spark.createDataFrame(
        [
            (f"{crawl_dir}/a.warc.gz", None, 64, 0),
            (f"{crawl_dir}/a.warc.gz", 0, None, None),
            (None, None, None, None),
        ],
        "filename string, offset long, length long, rec_offset long",
    )
    rows = fetch_warc_records(spark, entries).collect()
    assert len(rows) == 3
    assert all(r.warc_type == "_error" for r in rows)
    assert sum("null offset/length" in (r.error or "") for r in rows) == 3


def test_fetch_through_pyarrow_file_uri(spark, crawl_dir):
    """fetch == scan equality THROUGH the pyarrow.fs path: the same
    entries with filenames rewritten to file:// URIs (which route via
    FileSystem.from_uri) return byte-identical records."""
    idx = index_warc(spark, crawl_dir).where("status = 200")
    direct = fetch_warc_records(spark, idx)
    # binaryFile stamps Hadoop-style file:/abs names — rebuild as the
    # explicit file:// URI form, which routes through pyarrow
    via_uri = fetch_warc_records(
        spark,
        idx.withColumn(
            "filename",
            F.concat(
                F.lit("file://"),
                F.regexp_replace("filename", "^file:(//)?", ""),
            ),
        ),
    )
    key = lambda r: (  # noqa: E731
        r.url, r.warc_date, r.http_status, r.text, bytes(r.payload),
    )
    d, v = direct.collect(), via_uri.collect()
    assert len(d) > 0 and sorted(map(key, d)) == sorted(map(key, v))
    assert all(r.error is None for r in v)


def test_open_container_pyarrow_ranged_read(tmp_path):
    """Unit: the pyarrow branch of _open_container serves seek + exact
    ranged reads (the only two calls the fetch mapper makes)."""
    from gluestick_ts_spark.sources.cdx import _open_container

    blob = bytes(range(256)) * 4
    f = tmp_path / "c.bin"
    f.write_bytes(blob)
    h = _open_container(f"file://{f}")
    try:
        h.seek(100)
        assert h.read(32) == blob[100:132]
        h.seek(5)
        assert h.read(3) == blob[5:8]
    finally:
        h.close()
    # single-slash Hadoop form and bare path take the plain-open branch
    for name in (f"file:{f}", str(f)):
        h2 = _open_container(name)
        try:
            h2.seek(10)
            assert h2.read(4) == blob[10:14]
        finally:
            h2.close()


# ------------------------------------------ columnar (parquet) index

def test_cdx_parquet_round_trip_and_probe(spark, crawl_dir, tmp_path):
    """The cc-index-shaped parquet layout: rows round-trip identically
    to the text index (minus excluded error rows), and a prefix probe
    returns exactly the text-filter answer."""
    from gluestick_ts_spark.sources.cdx import (
        probe_cdx_parquet,
        read_cdx_parquet,
        write_cdx_parquet,
    )

    idx = index_warc(spark, crawl_dir)
    out = str(tmp_path / "ccidx")
    write_cdx_parquet(idx, out)
    back = read_cdx_parquet(spark, out)
    key = lambda r: (  # noqa: E731
        r.urlkey, r.timestamp, r.url, r.mime, r.status, r.digest,
        r.length, r.offset, r.rec_offset, r.filename, r.warc_type,
    )
    want = sorted(map(key, idx.where("urlkey is not null").collect()))
    got = sorted(map(key, back.collect()))
    assert got == want and len(got) == 12
    assert all(r.tld == "com" for r in back.collect())
    probed = probe_cdx_parquet(back, "com,site1)/")
    assert sorted(r.urlkey for r in probed.collect()) == sorted(
        r.urlkey for r in idx.where("urlkey like 'com,site1)/%'").collect()
    )
    # short-prefix probe (can't name a full TLD) stays correct
    assert probe_cdx_parquet(back, "co").count() == 12
    # the parquet rows feed the ranged fetch exactly like the text path
    fetched = fetch_warc_records(spark, probed, emit_payload=False)
    assert fetched.where("error is not null").count() == 0
    assert fetched.count() == probed.count()


def test_cdx_parquet_probe_plan_prunes(spark, crawl_dir, tmp_path):
    """Plan gate: the probe reaches the scan as a tld PartitionFilter
    plus a pushed urlkey StartsWith — selectivity becomes IO at the
    parquet layer, no full-index scan."""
    from gluestick_ts_spark.sources.cdx import (
        probe_cdx_parquet,
        read_cdx_parquet,
        write_cdx_parquet,
    )

    out = str(tmp_path / "ccidx")
    write_cdx_parquet(index_warc(spark, crawl_dir), out)
    plan = (
        probe_cdx_parquet(read_cdx_parquet(spark, out), "com,site1)/")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "tld" in plan.split(
        "PartitionFilters"
    )[1][:200]
    assert "StartsWith(urlkey,com,site1)/" in plan.replace(" ", "")
    for marker in ("MapInPandas", "BatchEvalPython"):
        assert marker not in plan


def test_cdx_parquet_append_and_compact(spark, crawl_dir, tmp_path):
    """Incremental index maintenance: a second segment APPENDS (probe
    sees both segments; per-file sorted stats keep pruning honest),
    and compact folds the per-append files back to one sorted set per
    partition with identical rows."""
    import glob as _glob

    from gluestick_ts_spark.sources.cdx import (
        _cdx_data_path,
        append_cdx_parquet,
        compact_cdx_parquet,
        probe_cdx_parquet,
        read_cdx_parquet,
        write_cdx_parquet,
    )

    out = str(tmp_path / "ccidx")
    idx = index_warc(spark, crawl_dir)
    write_cdx_parquet(idx.where("status = 200"), out)
    append_cdx_parquet(idx.where("status = 404"), out)
    back = read_cdx_parquet(spark, out)
    assert back.count() == 12
    assert probe_cdx_parquet(back, "com,site2)/").count() == idx.where(
        "urlkey like 'com,site2)/%'"
    ).count()
    key = lambda r: (r.urlkey, r.timestamp, r.offset, r.rec_offset)  # noqa: E731
    before_rows = sorted(map(key, back.collect()))
    n_files = len(_glob.glob(f"{out}/tld=com/*.parquet"))
    compact_cdx_parquet(spark, out)
    after = read_cdx_parquet(spark, out)
    assert after.count() == 12
    data = _cdx_data_path(spark, out)
    assert 0 < len(_glob.glob(f"{data}/tld=com/*.parquet")) <= n_files
    assert before_rows == sorted(map(key, after.collect()))
    # the compacted index lives in one version dir under the index
    # path; the legacy partitions are swept
    import os as _os

    assert sorted(n for n in _os.listdir(out) if not n.startswith(".")) == [
        "_store_meta.json", "_v1",
    ]
    # appends after compaction land in the live version
    append_cdx_parquet(idx.where("status = 404"), out)
    assert read_cdx_parquet(spark, out).count() == 12 + idx.where(
        "status = 404"
    ).count()


def test_surt_twins_property(spark):
    """Hypothesis gate on the SURT twins: RANDOM url-ish strings —
    unicode hosts/params (BMP and astral), stray spaces, empty and
    repeated params, ports, userinfo — canonicalize identically in
    Python and the Column expression. One batched run."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    label = st.text(
        alphabet="abz09-é日😀", min_size=1, max_size=4
    )
    host = st.lists(label, min_size=1, max_size=3).map(".".join)
    param = st.text(alphabet="abz=9é日😀 ", min_size=0, max_size=5)
    url = st.builds(
        lambda scheme, user, h, port, path, params, frag: (
            scheme + user + h + port + "/" + path
            + ("?" + "&".join(params) if params else "")
            + frag
        ),
        st.sampled_from(["http://", "https://", "", "HTTP://www."]),
        st.sampled_from(["", "user:pw@"]),
        host,
        st.sampled_from(["", ":80", ":8080"]),
        st.text(alphabet="ab/ 0é", max_size=6),
        st.lists(param, max_size=4),
        st.sampled_from(["", "#frag x"]),
    )

    cases: list[str] = []

    @settings(max_examples=120, deadline=None)
    @given(url)
    def collect(u):
        cases.append(u)

    collect()
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = [r.s for r in df.select(surt_expr("url").alias("s")).collect()]
    want = [surt(u) for u in cases]
    mism = [(c, g, w) for c, g, w in zip(cases, got, want) if g != w]
    assert not mism, mism[:5]
