"""CDX / CDXJ crawl-index source + ranged WARC record fetch — the
index-first access pattern that makes 100 TB crawls queryable without
reading them. The reference (hotgluexyz/gluestick-ts, src/reader.ts)
has no crawl-index analog; this follows the PUBLIC formats: the
Internet Archive's CDX(J) server spec and SURT canonicalization rules,
and Common Crawl's ``cdx-*.gz`` index layout.

Why this exists: a crawl dump is ~64 000 x ~1 GB ``.warc.gz``
containers. Answering "give me the 200-status text/html captures of
these 10 000 hosts" by scanning containers costs O(crawl bytes); the
published CDX index answers it from a few GB of text, and — because
the spec's recommended layout gzips each record as its OWN member —
every index row names a byte range ``(filename, offset, length)`` that
can be fetched and decoded independently. Selectivity becomes IO:
0.1 % selected records means ~0.1 % of the crawl read.

- ``surt`` / ``surt_expr``: Sort-friendly URI Reordering Transform
  (IA's canonical index key — host labels reversed and comma-joined so
  one domain's captures sort adjacent). Python + Spark Column twins,
  kept in lockstep by tests.
- ``index_warc``: distributed CDX builder over ``.warc[.gz]``
  containers — one task per container (the crawl grain), per-record
  gzip members indexed with their COMPRESSED extents; corruption
  surfaces as labeled ``_error`` rows (the reader modules' never-die
  contract).
- ``write_cdxj`` / ``read_cdxj``: the CDXJ text format (``urlkey
  timestamp {json}``), written/read fully JVM-side (``to_json`` /
  ``from_json`` — no Python in the plan); ``sorted=True`` range-sorts
  by urlkey like the published indexes.
- ``read_cdx``: the classic space-separated CDX-11 format
  (`` CDX N b a m s k r M S V g`` header line), also JVM-side.
- ``fetch_warc_records``: the payoff — given selected index rows,
  seek/read/decode ONLY those byte ranges and emit rows in the exact
  ``WARC_SCHEMA`` shape of ``read_warc`` (shared ``_record_row``
  conversion), so index-driven and full-scan pipelines compose with
  the same downstream curation.

100 TB shape: the index is built once per crawl (one linear pass at
container-file parallelism) and re-used by every downstream query;
fetch parallelism is hash-partitioned by filename with entries sorted
by offset inside each partition, so each container is opened once and
read forward. Payload bytes exist only between the ranged read and
the mapper's output row, exactly like ``read_warc``.
"""

from __future__ import annotations

import base64
import hashlib
import re
import zlib
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .warc import (
    _binary_file_max_length,
    _gzip_member_slices,
    _hdr_end,
    _record_row,
    _split_headers,
    _walk_chunk,
    WARC_SCHEMA,
)

__all__ = [
    "surt",
    "surt_expr",
    "index_warc",
    "write_cdxj",
    "read_cdxj",
    "read_cdx",
    "write_cdx_parquet",
    "read_cdx_parquet",
    "append_cdx_parquet",
    "compact_cdx_parquet",
    "probe_cdx_parquet",
    "fetch_warc_records",
    "latest_captures",
    "CDX_SCHEMA",
]

CDX_SCHEMA = (
    "urlkey string, timestamp string, url string, mime string, "
    "status int, digest string, length long, offset long, "
    "rec_offset long, filename string, warc_type string, error string"
)

# CDXJ json payload: Common Crawl stores the numerics as STRINGS
# ("length": "1234") — the readers cast back
_CDXJ_JSON_SCHEMA = (
    "url string, mime string, status string, digest string, "
    "length string, offset string, rec_offset string, "
    "filename string, warc_type string"
)

_SCHEME_RE = r"^[a-z][a-z0-9+.\-]*://"
_USERINFO_RE = r"^[^/?#@]*@"
_DEFAULT_PORT_RE = r":(80|443)$"
_WWW_RE = r"^www\d*\."


def surt(url: str) -> str:
    """Sort-friendly URI Reordering Transform of one URL (IA's index
    key): lowercase, scheme/userinfo/default-port dropped, one leading
    ``www``/``www2``... label dropped, host labels REVERSED and
    comma-joined, ``)`` then path, fragment dropped, query params
    sorted — ``http://www.Example.com/a?b=2&a=1`` ->
    ``com,example)/a?a=1&b=2``. Simplified vs IA's full canonicalizer
    (no session-id stripping, no percent-decode) but deterministic and
    IDENTICAL to :func:`surt_expr` — the tests pin the two in
    lockstep, because an index written with one and probed with the
    other must agree. Non-URL strings degrade gracefully (no scheme ->
    treated as host-relative)."""
    u = url.strip().lower()
    u = re.sub(_SCHEME_RE, "", u, count=1)
    u = re.sub(_USERINFO_RE, "", u, count=1)
    m = re.match(r"^([^/?#]*)(.*)$", u, re.S)
    host, rest = m.group(1), m.group(2)
    host = re.sub(_DEFAULT_PORT_RE, "", host)
    host = re.sub(_WWW_RE, "", host, count=1)
    # a non-default port stays, AFTER the reversed host (IA format:
    # ``com,example:8080)/``) — it must not ride the last label
    pm = re.search(r":(\d+)$", host)
    port = pm.group(0) if pm else ""
    host = host[: len(host) - len(port)] if port else host
    rest = re.sub(r"#.*$", "", rest, flags=re.S)
    if "?" in rest:
        path, q = rest.split("?", 1)
        # UTF-8 byte order == codepoint order, so plain sorted() here
        # matches the Column twin's encode()-comparator sort even for
        # astral-plane params (Java's default String compare is UTF-16
        # code-UNIT order, which diverges above U+FFFF)
        params = sorted(p for p in q.split("&") if p)
        rest = path + (("?" + "&".join(params)) if params else "")
    if not rest.startswith("/"):
        rest = "/" + rest
    key = ",".join(reversed(host.split("."))) + port + ")" + rest
    # literal spaces percent-encode (IA's canonicalizer escapes them):
    # the CDXJ line format is space-delimited, so a space ANYWHERE in
    # the urlkey — authority included, not just path+query — would
    # shear read_cdxj's 3-way split and silently turn the row into an
    # unparseable error line on round-trip. Escape the assembled key.
    return key.replace(" ", "%20")


def surt_expr(url: Column | str) -> Column:
    """Spark Column twin of :func:`surt` — pure in-row string algebra
    (regexp/split/reverse/array_sort, all JVM-side), so computing the
    urlkey of a 10^11-row url frame is map-only with zero Python.
    Same regexes as the Python twin (Java∩Python dialect subset)."""
    u = F.lower(F.trim(F.col(url) if isinstance(url, str) else url))
    u = F.regexp_replace(u, _SCHEME_RE, "")
    u = F.regexp_replace(u, _USERINFO_RE, "")
    host = F.regexp_extract(u, r"^([^/?#]*)", 1)
    rest = F.regexp_replace(u, r"^[^/?#]*", "")
    host = F.regexp_replace(host, _DEFAULT_PORT_RE, "")
    host = F.regexp_replace(host, _WWW_RE, "")
    port = F.regexp_extract(host, r"(:\d+)$", 1)
    host = F.regexp_replace(host, r":\d+$", "")
    rest = F.regexp_replace(rest, r"(?s)#.*$", "")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    q = F.regexp_replace(rest, r"^[^?]*\??", "")
    # sort params by their UTF-8 BYTES, not Java's default UTF-16
    # code-unit order: byte order == codepoint order == Python
    # sorted(), so the twins agree even on astral-plane (emoji) params
    # where UTF-16 surrogates would sort differently
    by_utf8 = lambda a, b: (  # noqa: E731
        F.when(F.encode(a, "UTF-8") < F.encode(b, "UTF-8"), F.lit(-1))
        .when(F.encode(a, "UTF-8") > F.encode(b, "UTF-8"), F.lit(1))
        .otherwise(F.lit(0))
    )
    params = F.array_sort(
        F.filter(F.split(q, "&"), lambda p: p != ""), by_utf8
    )
    rest2 = F.concat(
        path,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.array_join(params, "&")),
        ).otherwise(F.lit("")),
    )
    rest2 = F.when(rest2.startswith("/"), rest2).otherwise(
        F.concat(F.lit("/"), rest2)
    )
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    key = F.concat(rev, port, F.lit(")"), rest2)
    # escape the WHOLE assembled key (authority included) — see surt()
    return F.replace(key, F.lit(" "), F.lit("%20"))


def _cdx_timestamp(warc_date: str | None) -> str | None:
    """WARC-Date (``2024-01-02T03:04:05Z``) -> the CDX 14-digit
    timestamp (``20240102030405``); None/garbage/truncated -> None.
    Strictly 14 digits or nothing: a PARTIAL timestamp would sort
    lexicographically older than every full one in
    ``latest_captures``'s election, silently losing real captures."""
    if not warc_date:
        return None
    digits = re.sub(r"\D", "", warc_date)[:14]
    return digits if len(digits) == 14 else None


def _http_head(body: bytes) -> tuple[int | None, str | None]:
    """(status, bare mime) from a record's HTTP capture, parsing the
    HEADER BLOCK ONLY — no de-chunk, no content-encoding decode — so
    indexing stays one cheap pass. Non-HTTP bodies -> (None, None)."""
    m = re.match(rb"HTTP/\d(?:\.\d)? +(\d{3})", body[:32])
    if not m:
        return None, None
    status = int(m.group(1))
    hdr_end, _sep = _hdr_end(body, 0)
    if hdr_end < 0:
        return status, None
    first_nl = body.find(b"\n")
    headers = _split_headers(body[first_nl + 1 : hdr_end])
    ct = headers.get("content-type")
    mime = ct.split(";")[0].strip().lower() if ct else None
    return status, mime or None


def _record_digest(rec: dict) -> str:
    """The index digest: the record's ``WARC-Payload-Digest`` header
    when the crawler stamped one (Common Crawl does), else sha1-base32
    of the content block as stored (HTTP headers excluded when the
    block is an HTTP capture; transfer/content encodings NOT undone —
    the digest identifies stored bytes, not decoded payloads, so
    indexing never pays a decompress)."""
    stamped = rec.get("payload_digest")
    if stamped:
        return stamped.split(":", 1)[-1]  # drop the "sha1:" scheme tag
    body = rec["body"]
    if re.match(rb"HTTP/\d(?:\.\d)? +\d{3}", body[:32]):
        hdr_end, sep = _hdr_end(body, 0)
        if hdr_end >= 0:
            body = body[hdr_end + sep :]
    return base64.b32encode(hashlib.sha1(body).digest()).decode("ascii")


def _index_container(
    fname: str, data: bytes, want: set[str] | None, with_digest: bool
) -> Iterator[tuple]:
    """CDX rows of one container. Three layouts, three extent styles:
    per-record gzip -> (member offset, member length, rec_offset 0);
    whole-file gzip -> (0, whole compressed length, record offset in
    the decompressed stream) — still fetchable, just not selective
    WITHIN the container; plain -> the record's own byte extent.
    Corruption -> one labeled ``_error`` row, parse what's parseable."""
    try:
        gz = data[:2] == b"\x1f\x8b"
        if gz:
            members = _gzip_member_slices(bytes(data))
        else:
            members = iter([(0, len(data), bytes(data))])
        for comp_off, comp_len, chunk in members:
            for rec in _walk_chunk(chunk):
                if want is not None and rec["warc_type"].lower() not in want:
                    continue
                status, mime = _http_head(rec["body"])
                ctype = (rec["content_type"] or "").lower()
                if not ctype.startswith("application/http"):
                    mime = rec["content_type"]
                    status = None
                if gz:
                    off, length = comp_off, comp_len
                    rec_off = rec["chunk_offset"]
                else:
                    off = rec["chunk_offset"]
                    length = rec["chunk_end"] - rec["chunk_offset"]
                    rec_off = 0
                yield (
                    surt(rec["url"]) if rec["url"] else None,
                    _cdx_timestamp(rec["warc_date"]),
                    rec["url"],
                    mime,
                    status,
                    _record_digest(rec) if with_digest else None,
                    length,
                    off,
                    rec_off,
                    fname,
                    rec["warc_type"],
                    None,
                )
    except ValueError as e:
        yield (None, None, None, None, None, None, None, None, None,
               fname, "_error", str(e))


def index_warc(
    spark: SparkSession,
    path: str,
    record_types: tuple[str, ...] | None = ("response",),
    with_digest: bool = True,
) -> DataFrame:
    """Distributed CDX index build over every ``.warc[.gz]`` container
    under ``path`` — ``CDX_SCHEMA`` rows: SURT urlkey, 14-digit
    timestamp, url, bare mime, HTTP status, sha1-base32 digest, and
    the ``(filename, offset, length, rec_offset)`` byte extent that
    :func:`fetch_warc_records` consumes. ``record_types=None`` indexes
    every record type.

    One linear pass at container-file parallelism (the same grain as
    ``read_warc``); HTTP bodies are HEADER-parsed only, so indexing a
    container costs its gunzip plus O(records) header scans — no
    de-chunking, no charset decode. Oversized containers (past the
    binaryFile ceiling) and mid-file corruption surface as labeled
    ``_error`` rows; the job never dies (``read_warc``'s contract,
    warc.py:12-14)."""
    want = {t.lower() for t in record_types} if record_types else None

    def _mapper(batches):
        import pandas as pd

        cols = [
            "urlkey", "timestamp", "url", "mime", "status", "digest",
            "length", "offset", "rec_offset", "filename", "warc_type",
            "error",
        ]
        for pdf in batches:
            for fname, blob in zip(pdf["path"], pdf["content"]):
                rows = list(
                    _index_container(fname, bytes(blob), want, with_digest)
                )
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    files = spark.read.format("binaryFile").load(path)
    max_len = _binary_file_max_length(spark)
    good = (
        files.where(F.col("length") <= max_len)
        .select("path", "content")
        .mapInPandas(_mapper, schema=CDX_SCHEMA)
    )
    null = lambda t: F.lit(None).cast(t)  # noqa: E731
    oversized = files.where(F.col("length") > max_len).select(
        null("string").alias("urlkey"),
        null("string").alias("timestamp"),
        null("string").alias("url"),
        null("string").alias("mime"),
        null("int").alias("status"),
        null("string").alias("digest"),
        null("long").alias("length"),
        null("long").alias("offset"),
        null("long").alias("rec_offset"),
        F.col("path").alias("filename"),
        F.lit("_error").alias("warc_type"),
        F.concat(
            F.lit("container length "),
            F.col("length").cast("string"),
            F.lit(
                " exceeds the binaryFile source ceiling "
                f"(spark.sql.sources.binaryFile.maxLength={max_len})"
            ),
        ).alias("error"),
    )
    return good.unionByName(oversized)


def write_cdxj(
    df: DataFrame,
    path: str,
    sort: bool = True,
    mode: str = "error",
    compression: str | None = None,
) -> None:
    """Write ``CDX_SCHEMA`` rows as CDXJ text lines (``urlkey SP
    timestamp SP {json}`` — the CDX-server format Common Crawl
    publishes). Fully declarative: ``to_json(struct(...))`` +
    ``concat_ws`` + the text sink, zero Python in the plan.
    ``sort=True`` range-sorts by (urlkey, timestamp) — the published
    indexes are globally sorted so a reader can binary-search a
    domain's block; Spark's sort is a range-partitioned exchange, so
    part files hold disjoint, ordered key ranges. ``compression=
    "gzip"`` writes ``part-*.txt.gz`` (the Common Crawl ``cdx-*.gz``
    shape; ``read_cdxj`` reads both — the Hadoop text source decodes
    codecs transparently). ``_error`` rows (null urlkey) are
    excluded — an index line without a key is unsortable and
    unprobeable."""
    out = df.where(F.col("urlkey").isNotNull())
    if sort:
        out = out.sort("urlkey", "timestamp")
    line = F.concat_ws(
        " ",
        F.col("urlkey"),
        F.coalesce(F.col("timestamp"), F.lit("-")),
        F.to_json(
            F.struct(
                F.col("url"),
                F.col("mime"),
                F.col("status").cast("string").alias("status"),
                F.col("digest"),
                F.col("length").cast("string").alias("length"),
                F.col("offset").cast("string").alias("offset"),
                F.col("rec_offset").cast("string").alias("rec_offset"),
                F.col("filename"),
                F.col("warc_type"),
            )
        ),
    )
    writer = out.select(line.alias("value")).write.mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    writer.text(path)


def read_cdxj(spark: SparkSession, path: str) -> DataFrame:
    """Read CDXJ index lines back into ``CDX_SCHEMA`` (sans the
    ``error`` column's content — a text index carries no parse
    errors; unparseable LINES surface with null fields and the raw
    line in ``error`` instead of failing the read). Split + from_json,
    all JVM-side — the index for a full crawl is a few GB of text and
    this scan is trivially splittable, unlike the containers."""
    lines = spark.read.text(path)
    parts = F.split(F.col("value"), " ", 3)
    j = F.from_json(parts.getItem(2), _CDXJ_JSON_SCHEMA)
    parsed = lines.select(
        parts.getItem(0).alias("urlkey"),
        F.nullif(parts.getItem(1), F.lit("-")).alias("timestamp"),
        j.alias("__j"),
        F.col("value"),
    )
    # validity sentinel: from_json is PERMISSIVE (malformed json -> a
    # struct of nulls, not a null struct), so a parsed line counts as
    # good only when the mandatory ``filename`` field survived — every
    # written line carries it, and an index row without a filename is
    # unfetchable anyway. Numeric fields go through try_cast, NEVER
    # plain cast: under the session's ANSI mode a malformed numeric in
    # ONE third-party index line would otherwise throw
    # CAST_INVALID_INPUT and kill the whole read — instead a present-
    # but-uncastable numeric folds the line into the error sentinel.
    num_ok = lambda f, t: (  # noqa: E731
        F.col(f"__j.{f}").isNull() | F.col(f"__j.{f}").try_cast(t).isNotNull()
    )
    ok = (
        F.col("__j.filename").isNotNull()
        & num_ok("status", "int")
        & num_ok("length", "long")
        & num_ok("offset", "long")
        & num_ok("rec_offset", "long")
    )
    return parsed.select(
        F.when(ok, F.col("urlkey")).alias("urlkey"),
        F.when(ok, F.col("timestamp")).alias("timestamp"),
        F.when(ok, F.col("__j.url")).alias("url"),
        F.when(ok, F.col("__j.mime")).alias("mime"),
        F.when(ok, F.col("__j.status").try_cast("int")).alias("status"),
        F.when(ok, F.col("__j.digest")).alias("digest"),
        F.when(ok, F.col("__j.length").try_cast("long")).alias("length"),
        F.when(ok, F.col("__j.offset").try_cast("long")).alias("offset"),
        F.when(ok, F.col("__j.rec_offset").try_cast("long")).alias(
            "rec_offset"
        ),
        F.when(ok, F.col("__j.filename")).alias("filename"),
        F.when(ok, F.col("__j.warc_type")).alias("warc_type"),
        F.when(~ok, F.col("value")).alias("error"),
    )


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Read CLASSIC space-separated CDX-11 lines (`` CDX N b a m s k r
    M S V g`` — urlkey, timestamp, url, mime, status, digest,
    redirect, meta, compressed length, offset, filename; ``-`` is
    null). The format every pre-CDXJ tool emits; header lines (leading
    space + ``CDX``) are dropped. JVM-side split/cast only.
    ``rec_offset`` is 0 (classic CDX predates the in-member offset)
    and ``warc_type`` null — classic indexes only list captures."""
    lines = spark.read.text(path).where(~F.col("value").startswith(" CDX"))
    p = F.split(F.col("value"), " ")
    d = lambda i: F.nullif(p.getItem(i), F.lit("-"))  # noqa: E731
    # try_cast, never cast: ANSI mode would turn one malformed numeric
    # field in a third-party index ('abc' in the status slot) into a
    # job-killing CAST_INVALID_INPUT; bad numerics fold the line into
    # the error sentinel instead (the read_cdxj contract)
    num_ok = lambda i, t: (  # noqa: E731
        d(i).isNull() | d(i).try_cast(t).isNotNull()
    )
    ok = (
        (F.size(p) >= 11)
        & num_ok(4, "int")
        & num_ok(8, "long")
        & num_ok(9, "long")
    )
    return lines.select(
        F.when(ok, d(0)).alias("urlkey"),
        F.when(ok, d(1)).alias("timestamp"),
        F.when(ok, d(2)).alias("url"),
        F.when(ok, d(3)).alias("mime"),
        F.when(ok, d(4).try_cast("int")).alias("status"),
        F.when(ok, d(5)).alias("digest"),
        F.when(ok, d(8).try_cast("long")).alias("length"),
        F.when(ok, d(9).try_cast("long")).alias("offset"),
        F.when(ok, F.lit(0).cast("long")).alias("rec_offset"),
        F.when(ok, d(10)).alias("filename"),
        F.lit(None).cast("string").alias("warc_type"),
        F.when(~ok, F.col("value")).alias("error"),
    )


def write_cdx_parquet(index: DataFrame, path: str, mode: str = "error") -> None:
    """COLUMNAR CDX index — the Common Crawl ``cc-index`` table shape
    (CC publishes its CDX both as gzipped text and as a parquet table
    for exactly this reason): ``CDX_SCHEMA`` columns parquet-encoded,
    hive-partitioned by the SURT key's TLD label and SORTED by
    ``(urlkey, timestamp)`` within each partition's files. A
    urlkey-prefix probe then prunes twice before reading a byte of
    data: the ``tld=`` directory filter skips partitions, and the
    sorted layout gives every row group tight urlkey min/max stats so
    the pushed ``StartsWith`` skips most of the rest — on a 10^10-row
    full-crawl index, a one-domain probe touches a handful of row
    groups instead of scanning GBs of text lines. ``_error`` rows
    (null urlkey) are excluded, like ``write_cdxj`` — an index row
    without a key is unprobeable. Use :func:`probe_cdx_parquet` to
    apply both pruning filters from one prefix. ``mode="append"``
    appends to the index's current version."""
    if mode == "append":
        path = _cdx_data_path(index.sparkSession, path)
    out = index.where(F.col("urlkey").isNotNull()).withColumn(
        "tld", F.regexp_extract("urlkey", r"^([^,)]+)", 1)
    )
    (
        out.repartition("tld")
        .sortWithinPartitions("urlkey", "timestamp")
        .write.mode(mode)
        .partitionBy("tld")
        .parquet(path)
    )


def read_cdx_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a :func:`write_cdx_parquet` index: ``CDX_SCHEMA`` columns
    plus the ``tld`` partition column (kept so probe filters can
    partition-prune; drop it for a pure CDX frame). Plain parquet scan
    — splittable, column-pruned, filter-pushed by Catalyst."""
    cols = [c.split()[0] for c in CDX_SCHEMA.split(", ")]
    return spark.read.parquet(_cdx_data_path(spark, path)).select(*cols, "tld")


def append_cdx_parquet(index: DataFrame, path: str) -> None:
    """Append one crawl segment's index rows to an existing columnar
    CDX table (the per-dump incremental shape: each monthly segment
    appends, nothing rewrites). Appended files are sorted within
    themselves, so per-file/row-group urlkey stats stay tight and
    probe pruning keeps working; GLOBAL order within a partition is
    no longer total — run :func:`compact_cdx_parquet` periodically to
    fold small per-append files back into sorted ones (the
    compact_signature_store maintenance precedent)."""
    write_cdx_parquet(index, path, mode="append")


def _cdx_store(path: str):
    """The columnar index as a store: legacy data is ``path`` itself,
    compacted versions are the hidden ``path/_v<k>`` dirs named by
    ``path/_store_meta.json`` (hidden, so a legacy scan of ``path``
    never sees them)."""
    from .store import Store

    return Store(path, "", "_store_meta.json")


def _cdx_data_path(spark: SparkSession, path: str) -> str:
    store = _cdx_store(path)
    return store.data_path(store.read_meta(spark))


def compact_cdx_parquet(spark: SparkSession, path: str) -> None:
    """Rewrite the columnar index with per-partition sorted files —
    folds the small files appends accumulate and restores tight
    row-group stats; run it off the probe path. The rewrite is
    published as a new version (``sources/store.py``): the live index
    stays readable at every step, on object stores too."""
    store = _cdx_store(path)
    meta, src = store.locate(spark)
    if src is None:
        raise FileNotFoundError(f"compact_cdx_parquet: no index at {path}")
    cols = [c.split()[0] for c in CDX_SCHEMA.split(", ")]
    cur = spark.read.parquet(src).select(*cols, "tld")

    def write(dst: str, mode: str) -> None:
        (
            cur.repartition("tld")
            .sortWithinPartitions("urlkey", "timestamp")
            .write.mode(mode)
            .partitionBy("tld")
            .parquet(dst)
        )

    store.publish(spark, meta or {}, write, meta or {})


def probe_cdx_parquet(index: DataFrame, urlkey_prefix: str) -> DataFrame:
    """The standard index probe: all captures whose SURT key starts
    with ``urlkey_prefix`` (e.g. ``"com,example)/"`` for one domain,
    ``"com,example)/blog"`` for one subtree). Applies BOTH pruning
    predicates — the ``tld`` partition filter (derived from the
    prefix; when the prefix is shorter than the TLD label, a
    startswith over ``tld`` keeps correctness and prunes what it can)
    and the row-group-skipping ``urlkey`` startswith."""
    head = re.split(r"[,)]", urlkey_prefix, maxsplit=1)
    if len(head) > 1:
        tld_pred = F.col("tld") == head[0]
    else:
        tld_pred = F.col("tld").startswith(head[0])
    return index.where(tld_pred & F.col("urlkey").startswith(urlkey_prefix))


def _strip_file_scheme(path: str) -> str:
    if path.startswith("file:"):
        return re.sub(r"^file:(//)?", "", path)
    return path


def _open_container(path: str):
    """Open one container for ranged reads, FS-agnostic: plain local
    paths and Hadoop-style single-slash ``file:/...`` names (what
    binaryFile stamps into ``path``) use a direct ``open()`` (no
    wrapper overhead on the hot local case); any ``scheme://`` URI —
    ``file://`` included — routes through
    ``pyarrow.fs.FileSystem.from_uri``, so the SAME code serves
    ``s3://``/``gcs://``/``hdfs://`` containers on a real cluster,
    where the ranged-fetch payoff (selectivity becomes IO) actually
    matters. pyarrow input files are seekable readers, so the
    open-once-per-container forward-read pattern is preserved.
    Failures raise OSError/ValueError — the mapper's error-row path
    (pyarrow's ArrowInvalid/ArrowIOError subclass them)."""
    if re.match(r"^[a-z][a-z0-9+.\-]*://", path):
        from pyarrow import fs as pafs

        filesystem, p = pafs.FileSystem.from_uri(path)
        return filesystem.open_input_file(p)
    return open(_strip_file_scheme(path), "rb")


def _as_long(v) -> int | None:
    """Defensive numeric coercion for index-entry fields arriving
    through Arrow/pandas: None and NaN (how pandas renders null longs)
    -> None, everything else -> int. Never raises — a null extent must
    become a labeled error ROW, not a task death."""
    try:
        if v is None or v != v:
            return None
        return int(v)
    except (TypeError, ValueError):
        return None


def _fetch_mapper(
    emit_text: bool,
    emit_payload: bool,
    max_payload_bytes: int,
    max_text_chars: int | None,
):
    """Partition mapper for :func:`fetch_warc_records`: entries arrive
    hash-partitioned by filename and offset-sorted within it, so each
    container opens ONCE and reads forward. The handle survives across
    Arrow batches (generator state); every failure mode — missing
    file, short read, corrupt member, no record at ``rec_offset`` —
    becomes a labeled ``_error`` row naming the extent, never a task
    death."""

    def _fetch(batches):
        import pandas as pd

        cols = [
            "warc_file", "record_offset", "warc_type", "url",
            "warc_date", "record_id", "content_type", "http_status",
            "http_content_type", "payload", "text", "truncated",
            "error",
        ]
        open_name, handle = None, None
        # one-slot decoded-member cache: whole-file-gzip layouts give
        # every record the SAME (offset, length) extent with differing
        # rec_offsets, and entries arrive offset-sorted — without this
        # a k-record selection re-reads and re-gunzips the container k
        # times (O(k x container) instead of O(container))
        cache_key, cache_chunk = None, None

        def _err(fname, off, msg):
            return (fname, off, "_error", None, None, None, None, None,
                    None, None, None, None, msg)

        try:
            for pdf in batches:
                rows = []
                for fname, off, length, rec_off in zip(
                    pdf["filename"], pdf["offset"], pdf["length"],
                    pdf["rec_offset"],
                ):
                    # conversions NEVER outside the try: read_cdxj /
                    # read_cdx emit null extents for error lines, and
                    # int(NaN) raising here would be a task death —
                    # exactly the contract violation the error row
                    # exists to prevent
                    off = _as_long(off)
                    length = _as_long(length)
                    rec_off = _as_long(rec_off) or 0
                    local = str(fname)
                    try:
                        if off is None or length is None:
                            raise ValueError(
                                "null offset/length in index entry "
                                "(unparseable or error index line?)"
                            )
                        if open_name != local:
                            if handle is not None:
                                handle.close()
                            handle = _open_container(local)
                            open_name = local
                        if cache_key == (local, off, length):
                            chunk = cache_chunk
                        else:
                            handle.seek(off)
                            raw = handle.read(length)
                            if len(raw) < length:
                                raise ValueError(
                                    f"short read: wanted {length} bytes "
                                    f"at {off}, got {len(raw)}"
                                )
                            if raw[:2] == b"\x1f\x8b":
                                chunk = _gunzip_one(raw)
                            else:
                                chunk = raw
                            cache_key = (local, off, length)
                            cache_chunk = chunk
                        rec = None
                        for r in _walk_chunk(chunk):
                            if r["chunk_offset"] == rec_off:
                                rec = r
                                break
                            if r["chunk_offset"] > rec_off:
                                break
                        if rec is None:
                            raise ValueError(
                                f"no record at rec_offset {rec_off} "
                                f"within member at {off}"
                            )
                        rows.append(
                            _record_row(
                                fname, off, rec, emit_text, emit_payload,
                                max_payload_bytes, max_text_chars,
                            )
                        )
                    except (OSError, ValueError) as e:
                        rows.append(_err(fname, off, str(e)))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)
        finally:
            if handle is not None:
                handle.close()

    return _fetch


def _gunzip_one(raw: bytes) -> bytes:
    """Decode exactly one gzip member from a ranged read, with the
    module-wide bomb cap (``warc._MAX_DECOMPRESS_BYTES``). Raises
    ValueError on corruption."""
    try:
        for _off, _length, blob in _gzip_member_slices(raw):
            return blob
    except zlib.error as e:  # pragma: no cover — slices wrap zlib errs
        raise ValueError(str(e)) from e
    raise ValueError("empty gzip range")


def fetch_warc_records(
    spark: SparkSession,
    entries: DataFrame,
    emit_text: bool = True,
    emit_payload: bool = True,
    max_payload_bytes: int = 8 * 1024 * 1024,
    max_text_chars: int | None = None,
) -> DataFrame:
    """Ranged WARC record fetch: ``entries`` is any frame carrying
    ``filename, offset, length, rec_offset`` (an ``index_warc`` /
    ``read_cdxj`` selection — filter it FIRST; the whole point is that
    only the selected extents are read). Returns ``WARC_SCHEMA`` rows
    identical to ``read_warc``'s for the same records (shared
    ``_record_row``), except ``record_offset`` carries the CDX
    container offset rather than the decompressed-stream offset.

    Scale: hash-repartitioned by filename and offset-sorted within
    each partition — each container opens once per holding task and
    reads forward (a seek stream, the access pattern object stores
    and page caches reward). Selected bytes are the ONLY bytes read:
    k records of ~50 KB across a 100 TB crawl cost O(50k·KB), not
    O(crawl). FS-agnostic: local paths / ``file:`` names open
    directly; any ``scheme://`` URI (s3/gcs/hdfs) routes through
    ``pyarrow.fs.FileSystem.from_uri`` (see ``_open_container``) with
    the same open-once forward-read pattern — on a real cluster,
    where the containers live on an object store, this is where the
    selectivity-becomes-IO payoff actually lands. Every failure mode
    is a labeled ``_error`` row."""
    cols = entries.select(
        F.col("filename"),
        F.col("offset").cast("long"),
        F.col("length").cast("long"),
        F.coalesce(F.col("rec_offset").cast("long"), F.lit(0)).alias(
            "rec_offset"
        ),
    )
    arranged = cols.repartition(F.col("filename")).sortWithinPartitions(
        "filename", "offset"
    )
    return arranged.mapInPandas(
        _fetch_mapper(emit_text, emit_payload, max_payload_bytes,
                      max_text_chars),
        schema=WARC_SCHEMA,
    )


def latest_captures(
    index: DataFrame,
    status: tuple[int, ...] | None = (200,),
    mime_prefix: str | None = None,
    dedup_digest: bool = False,
) -> DataFrame:
    """The standard pre-fetch selection over a CDX index: ONE row per
    ``urlkey`` — the LATEST capture (max ``timestamp``; filename/offset
    tiebreak for same-second recrawls), optionally restricted to
    ``status`` codes and a ``mime_prefix`` (e.g. ``"text/"``).
    ``dedup_digest=True`` additionally collapses distinct urlkeys that
    captured IDENTICAL payloads (same ``digest`` — mirrors, www/apex
    twins the SURT didn't fold, unchanged recrawls under differing
    keys) to one representative, keyed by smallest urlkey: exact
    content dedup decided entirely INSIDE the index, before a single
    payload byte is fetched.

    Scale: one hash shuffle of the (filtered) index on ``urlkey`` for
    the window, plus one on ``digest`` when collapsing — index rows
    are short strings, ~10^10 of them for a full crawl, the classic
    cheap-relation shape. Compose: ``latest_captures(read_cdxj(...))
    -> fetch_warc_records`` reads each selected record exactly once."""
    from pyspark.sql import Window

    out = index.where(F.col("urlkey").isNotNull())
    if status is not None:
        out = out.where(F.col("status").isin(list(status)))
    if mime_prefix is not None:
        out = out.where(F.col("mime").startswith(mime_prefix))
    w = Window.partitionBy("urlkey").orderBy(
        F.col("timestamp").desc_nulls_last(),
        F.col("filename"),
        F.col("offset"),
    )
    out = out.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    ).drop("__rn")
    if dedup_digest:
        wd = Window.partitionBy("digest").orderBy("urlkey")
        out = (
            out.withColumn("__rd", F.row_number().over(wd))
            .where(F.col("digest").isNull() | (F.col("__rd") == 1))
            .drop("__rd")
        )
    return out
