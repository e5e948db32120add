"""WARC source — the container Common Crawl actually ships.

The engine's documents table (url, warc_ts, html, text, lang —
BASELINE.json input_hint) is produced upstream from WARC archives:
concatenated WARC/1.0 records, each usually its own gzip member
(the Common Crawl layout, which makes records individually seekable).
This module closes that last mile Spark-first:

  read_warc(spark, path)         binaryFile scan → one mapInArrow
                                 splitter → (url, warc_ts, html,
                                 warc_type, status) rows; response
                                 records carry the HTTP payload bytes
  warc_to_documents(spark, path) → the standard documents schema
                                 (text=None, lang=None — the DOM
                                 stripper and lang-ID fill those
                                 downstream, operators/html_extract +
                                 text_analysis)
  write_warc(path, records)      spec-shaped writer (plain or
                                 per-record gzip members) so the
                                 reader is round-trip-tested with
                                 REAL bytes in this container

Scale shape: one task per WARC file (Common Crawl files are ~1 GB —
a good task quantum; thousands of files parallelize across
executors), streaming decompression member-by-member inside the
task, rows out ∝ records. No shuffle anywhere: the splitter is a
narrow map, and the salted repartition documented in jobs/extract.py
happens AFTER this source, defusing the host-clustering WARC files
arrive with. Malformed records become status rows — the same typed
failure accounting as the extract pipeline, never task failures.

Reference anchor: the reference has no web-archive input at all (it
reads single local PDFs, utils.py); this source exists for the north
rule's Common-Crawl-style corpus.
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Callable, Iterator
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..plans.rows import map_rows

WARC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("html", T.BinaryType()),
    ]
)


# ------------------------------------------------------------------ parsing


def _split_gzip_members(data: bytes) -> Iterator[bytes]:
    """Yield decompressed gzip members from a multi-member stream
    (the Common Crawl per-record layout); a plain (non-gzip) stream
    yields itself once."""
    if data[:2] != b"\x1f\x8b":
        yield data
        return
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        yield d.decompress(data[pos:])
        tail = d.unused_data
        if not tail:
            break
        pos = len(data) - len(tail)


def _parse_warc_records(data: bytes) -> Iterator[dict]:
    """Yield header/payload dicts from one decompressed WARC stream
    (possibly several records back to back)."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2
        if pos >= n or not data[pos:].strip():
            return
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            yield {"error": "truncated record header"}
            return
        head = data[pos : head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            yield {"error": f"bad version line {lines[0][:40]!r}"}
            return
        headers = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            yield {"error": "missing/bad Content-Length"}
            return
        if length < 0:
            # a negative length would move pos backwards and re-parse
            # the same bytes forever — terminate, don't loop
            yield {"error": f"negative Content-Length {length}"}
            return
        body_start = head_end + 4
        payload = data[body_start : body_start + length]
        if len(payload) < length:
            yield {"headers": headers, "payload": payload, "error": "truncated payload"}
            return
        yield {"headers": headers, "payload": payload, "error": None}
        pos = body_start + length


def _http_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope a WARC response record wraps
    around the actual document bytes."""
    if payload[:5] == b"HTTP/":
        sep = payload.find(b"\r\n\r\n")
        if sep >= 0:
            return payload[sep + 4 :]
    return payload


def _parse_warc_date(s: str | None) -> datetime | None:
    if not s:
        return None
    try:
        # WARC-Date is ISO-8601 Zulu; WARC 1.1 allows fractional
        # seconds (2024-03-01T12:30:00.123Z). Return an AWARE UTC
        # datetime: Spark converts an aware datetime to the correct
        # instant regardless of spark.sql.session.timeZone, whereas a
        # naive one would be reinterpreted in the session zone and
        # shift the timestamp on any non-UTC deployment.
        return datetime.fromisoformat(s.replace("Z", "+00:00")).astimezone(
            timezone.utc
        )
    except ValueError:
        return None


def iter_warc_file(data: bytes) -> Iterator[dict]:
    """(url, warc_ts, warc_type, status, html) dicts from raw WARC
    bytes — the pure-Python core the Spark splitter wraps. Malformed
    content yields status rows, never raises."""
    try:
        for member in _split_gzip_members(data):
            for rec in _parse_warc_records(member):
                if rec.get("error") and "headers" not in rec:
                    yield {
                        "url": None, "warc_ts": None, "warc_type": None,
                        "status": f"error: {rec['error']}", "html": None,
                    }
                    continue
                h = rec["headers"]
                wtype = h.get("warc-type", "unknown")
                row = {
                    "url": h.get("warc-target-uri"),
                    "warc_ts": _parse_warc_date(h.get("warc-date")),
                    "warc_type": wtype,
                    "status": "ok" if not rec.get("error") else f"error: {rec['error']}",
                    "html": None,
                }
                if row["status"] == "ok":
                    if wtype == "response":
                        row["html"] = _http_body(rec["payload"])
                    elif wtype == "conversion":
                        # WET record: payload IS the extracted text
                        # (no HTTP envelope); surfaced on the same
                        # binary column, decoded by wet_to_documents
                        row["html"] = rec["payload"]
                yield row
    except (OSError, zlib.error, EOFError) as e:
        yield {
            "url": None, "warc_ts": None, "warc_type": None,
            "status": f"error: decompress: {str(e)[:120]}", "html": None,
        }


# ------------------------------------------------------------------ spark


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC file(s) → one row per record. binaryFile scan (one task
    per archive) → one mapInArrow splitter; zero shuffles. The
    splitter yields record by record, so a ~1 GB .gz member that
    decompresses to several GB of HTML is never held whole: one
    output batch (256 records, tens of MB) is in flight at a time."""
    files = spark.read.format("binaryFile").load(path).select("content")
    return map_rows(files, iter_warc_file, WARC_SCHEMA)


def warc_to_documents(spark: SparkSession, path: str) -> DataFrame:
    """WARC archives → the input_hint documents schema. Only ok
    response records with a target URI qualify; text/lang stay NULL
    for the downstream DOM stripper (html_main_text) and lang-ID to
    fill — extraction cost does not belong in the source."""
    recs = read_warc(spark, path)
    return recs.where(
        (F.col("warc_type") == "response")
        & (F.col("status") == "ok")
        & F.col("url").isNotNull()
    ).select(
        "url",
        "warc_ts",
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


# ------------------------------------------------------------------ writer


def _record_bytes(
    url: str | None,
    warc_ts: datetime | None,
    html: bytes | None,
    warc_type: str = "response",
    gzip_members: bool = True,
) -> bytes:
    body = html or b""
    if warc_type == "conversion":
        # WET layout: the payload IS the extracted text, no HTTP
        # envelope (matches Common Crawl's *.warc.wet.gz records)
        payload = body
        ctype = "text/plain"
    else:
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
        )
        ctype = "application/http; msgtype=response"
    ts = warc_ts or datetime(2024, 1, 1)
    # Arrow hands an aware datetime in the session zone; the header is UTC
    date = (ts.astimezone(timezone.utc) if ts.tzinfo else ts).strftime("%Y-%m-%dT%H:%M:%SZ")
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {url or ''}\r\n"
        f"WARC-Date: {date}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"Content-Type: {ctype}\r\n"
        "\r\n"
    ).encode()
    rec = head + payload + b"\r\n\r\n"
    return gzip.compress(rec) if gzip_members else rec


def write_warc(
    path: str,
    records: list[dict],
    gzip_members: bool = True,
) -> None:
    """Spec-shaped WARC/1.0 writer for tests and fixtures. Each record
    dict: {url, warc_ts (datetime), html (bytes), warc_type?}. Records
    become HTTP-enveloped response records, each its own gzip member
    when gzip_members (the Common Crawl layout)."""
    out = io.BytesIO()
    for r in records:
        out.write(
            _record_bytes(
                r.get("url"), r.get("warc_ts"), r.get("html"),
                r.get("warc_type", "response"), gzip_members,
            )
        )
    with open(path, "wb") as f:
        f.write(out.getvalue())


_MANIFEST = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("records", T.LongType()),
    ]
)


def _write_archives(
    df: DataFrame, out_dir: str, ext: str, caller: str, record: Callable[..., bytes]
) -> DataFrame:
    """Each partition streams `record(*row)` for its rows into its own
    `part-<pid>.<ext>` archive; returns the (path, records) manifest,
    one row per non-empty partition."""
    import os

    from ..fsutil import ensure_local_path

    ensure_local_path(out_dir, caller)
    os.makedirs(out_dir, exist_ok=True)
    manifest = to_arrow_schema(_MANIFEST)

    def dump(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        path = os.path.join(out_dir, f"part-{pid:05d}.{ext}")
        n = 0
        f = None
        try:
            for batch in batches:
                if f is None:
                    f = open(path, "wb")
                for row in zip(*(c.to_pylist() for c in batch.columns)):
                    f.write(record(*row))
                    n += 1
        finally:
            if f is not None:
                f.close()
        # empty partitions write no file and emit no manifest row
        if n:
            yield pa.RecordBatch.from_pylist([{"path": path, "records": n}], schema=manifest)

    return df.mapInArrow(dump, _MANIFEST)


def write_warc_table(df: DataFrame, out_dir: str, gzip_members: bool = True) -> DataFrame:
    """Distributed WARC export: each partition streams its rows into
    its own `part-<pid>.warc(.gz)` archive — the write parallelism IS
    the partitioning, no shuffle, no driver collect. Returns a small
    (path, records) DataFrame; trigger it (e.g. .collect()) to run the
    export and get the manifest. Local-FS directory (the sandbox
    stand-in; at scale each task streams to the object store)."""

    def record(url, ts, html):
        return _record_bytes(url, ts, html, gzip_members=gzip_members)

    ext = "warc.gz" if gzip_members else "warc"
    return _write_archives(
        df.select("url", "warc_ts", "html"), out_dir, ext, "sources/warc.write_warc_table", record
    )


# ------------------------------------------------------------------ WET


def wet_to_documents(spark: SparkSession, path: str) -> DataFrame:
    """WET archives (conversion records = extracted text) → the
    documents schema with `text` filled and `html` NULL — the inverse
    of warc_to_documents for corpora already boilerplate-stripped
    upstream (Common Crawl *.warc.wet.gz)."""
    recs = read_warc(spark, path)
    return recs.where(
        (F.col("warc_type") == "conversion")
        & (F.col("status") == "ok")
        & F.col("url").isNotNull()
    ).select(
        "url",
        "warc_ts",
        F.lit(None).cast("binary").alias("html"),
        F.decode(F.col("html"), "UTF-8").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def write_wet_table(df: DataFrame, out_dir: str, gzip_members: bool = True) -> DataFrame:
    """Distributed WET export: (url, warc_ts, text) rows → per-
    partition `part-<pid>.warc.wet(.gz)` archives of conversion
    records — the format downstream consumers of Common Crawl text
    already read. Same execution shape as write_warc_table (no
    shuffle, manifest DataFrame returned; trigger to run)."""

    def record(url, ts, text):
        return _record_bytes(
            url, ts, (text or "").encode("utf-8"), warc_type="conversion", gzip_members=gzip_members
        )

    ext = "warc.wet.gz" if gzip_members else "warc.wet"
    return _write_archives(
        df.select("url", "warc_ts", "text"), out_dir, ext, "sources/warc.write_wet_table", record
    )
