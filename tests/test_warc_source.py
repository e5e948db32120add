"""WARC source: round-trip with real bytes (plain + per-record gzip
members), malformed-record accounting, and composition with the DOM
stripper + extraction pipeline (the full Common-Crawl-shaped path)."""

from __future__ import annotations

import gzip
import sys
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pdf_parser_spark.sources import warc as W


def _records(n: int) -> list[dict]:
    return [
        {
            "url": f"https://host{i % 3}.example/page/{i}",
            "warc_ts": datetime(2024, 3, 1, 12, i % 60),
            "html": f"<html><body><p>Doc {i} body text.</p></body></html>".encode(),
        }
        for i in range(n)
    ]


def test_warc_roundtrip_both_layouts(spark, tmp_path):
    recs = _records(7)
    for gz, name in ((True, "cc.warc.gz"), (False, "plain.warc")):
        p = str(tmp_path / name)
        W.write_warc(p, recs, gzip_members=gz)
        df = W.read_warc(spark, p)
        rows = {r["url"]: r for r in df.collect()}
        assert len(rows) == 7
        for r in recs:
            got = rows[r["url"]]
            assert got["status"] == "ok" and got["warc_type"] == "response"
            assert bytes(got["html"]) == r["html"]  # HTTP envelope stripped
            assert got["warc_ts"] == r["warc_ts"]


def test_warc_to_documents_schema_and_filtering(spark, tmp_path):
    recs = _records(5)
    # non-response records (warcinfo/request) must be filtered out
    recs.append({"url": "meta:info", "warc_ts": datetime(2024, 1, 1), "html": b"", "warc_type": "warcinfo"})
    p = str(tmp_path / "mix.warc.gz")
    W.write_warc(p, recs)
    docs = W.warc_to_documents(spark, p)
    assert [f.name for f in docs.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert docs.count() == 5
    assert docs.where("warc_ts IS NULL").count() == 0


def test_warc_malformed_records_become_status_rows(spark, tmp_path):
    p = str(tmp_path / "bad.warc.gz")
    good = _records(2)
    W.write_warc(p, good)
    # append a corrupt gzip member: decode must not crash the task
    with open(p, "ab") as f:
        f.write(gzip.compress(b"WARC/1.0\r\nContent-Length: notanum\r\n\r\n"))
        f.write(b"\x1f\x8b\x08\x00garbage-not-gzip-tail")
    df = W.read_warc(spark, p)
    rows = df.collect()
    oks = [r for r in rows if r["status"] == "ok"]
    errs = [r for r in rows if r["status"].startswith("error")]
    assert len(oks) == 2 and len(errs) >= 1


def test_warc_feeds_extraction_pipeline(spark, tmp_path):
    """The full CC-shaped path: WARC → documents → DOM strip →
    per-document extraction, with the salted repartition in between —
    the jobs/extract.py dataflow from the true source format."""
    from pdf_parser_spark.operators import extract as ox
    from pdf_parser_spark.operators.html_extract import html_main_text
    from pdf_parser_spark.sources.corpus import synthetic_documents

    # synth docs carry REAL html bodies; re-pack them as WARC records
    src = synthetic_documents(spark, 8, seed=42).collect()
    recs = [
        {"url": r["url"], "warc_ts": r["warc_ts"], "html": bytes(r["html"] or b"")}
        for r in src
    ]
    p = str(tmp_path / "corpus.warc.gz")
    W.write_warc(p, recs)

    docs = W.warc_to_documents(spark, p)
    stripped = html_main_text(docs).select(
        "url", (F := __import__("pyspark.sql.functions", fromlist=["col"])).col("extracted_text").alias("text")
    )
    extracted = ox.extract_documents(ox.salted_repartition(stripped, 4))
    by_status = {r["status"]: r["n"] for r in extracted.groupBy("status").agg(
        F.count("*").alias("n")).collect()}
    assert sum(by_status.values()) == 8
    assert by_status.get("ok", 0) >= 1


def test_extract_job_from_warc_with_resume(spark, tmp_path):
    """jobs/extract.py --input-format warc: the whole operational
    contract (salted repartition, DOM strip, per-doc extraction, side
    tables, anti-join resume) straight from Common Crawl's container."""
    from jobs.extract import run as run_job
    from pdf_parser_spark.sources.corpus import synthetic_documents

    src = synthetic_documents(spark, 10, seed=42).collect()
    recs = [
        {"url": r["url"], "warc_ts": r["warc_ts"], "html": bytes(r["html"] or b"")}
        for r in src
    ]
    p = str(tmp_path / "job.warc.gz")
    W.write_warc(p, recs)
    out = str(tmp_path / "warc_out")

    first = run_job(p, out, resume=False, spark=spark, input_format="warc")
    assert first["input_docs"] == 10
    assert first["newly_extracted"] == 10
    assert sum(first["status_counts"].values()) == 10

    second = run_job(p, out, resume=True, spark=spark, input_format="warc")
    assert second["already_extracted"] == 10
    assert second["newly_extracted"] == 0
    ex = spark.read.parquet(str(Path(out) / "extracted"))
    assert ex.select("url").distinct().count() == ex.count() == 10


def test_warc_parser_never_raises_fuzz():
    """iter_warc_file is the per-task record splitter: ANY byte
    garbage must become typed rows, never a task failure (the
    accounting contract of the whole extraction tier)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=400))
    def check(data):
        rows = list(W.iter_warc_file(data))
        for r in rows:
            assert set(r) == {"url", "warc_ts", "warc_type", "status", "html"}

    check()

    # adversarial prefixes: gzip magic + garbage, WARC magic + garbage
    for data in (b"\x1f\x8b\x08\x00junk", b"WARC/1.0\r\nbroken", b"\x1f\x8b", b""):
        for r in W.iter_warc_file(data):
            assert "status" in r


def test_curate_job_from_warc(spark, tmp_path):
    """jobs/curate.py --input-format warc: the hygiene funnel straight
    from archives — DOM strip recovers the text the filters judge."""
    from jobs.curate import run as run_curate
    from pdf_parser_spark.sources.corpus import synthetic_documents

    src = synthetic_documents(spark, 12, seed=42).collect()
    recs = [
        {"url": r["url"], "warc_ts": r["warc_ts"], "html": bytes(r["html"] or b"")}
        for r in src
    ]
    p = str(tmp_path / "cur.warc.gz")
    W.write_warc(p, recs)
    out = str(tmp_path / "warc_cur")

    m = run_curate(p, out, spark=spark, resume=False, input_format="warc")
    assert m["input_docs"] == 12
    assert (
        m["dropped_gopher"] + m["dropped_dup_lines"] + m["dropped_exact_dup"]
        + m["dropped_near_dup"] + m["newly_curated"]
    ) == m["new_docs"] == 12
    from pdf_parser_spark.sinks import snapshots as sn

    curated = sn.read(spark, str(Path(out) / "curated"))
    assert set(curated.columns) == {"url", "warc_ts", "html", "text", "lang"}
    assert curated.count() == m["total_curated"] > 0


def test_write_warc_table_distributed_roundtrip(spark, tmp_path):
    """Distributed export: one archive per partition, manifest rows
    returned, read_warc over the directory recovers every record."""
    from pdf_parser_spark.sources.corpus import synthetic_documents

    import pytest

    docs = synthetic_documents(spark, 15, seed=42).repartition(4)
    out = str(tmp_path / "warc_export")
    manifest = W.write_warc_table(docs, out).collect()
    assert sum(r["records"] for r in manifest) == 15
    assert 1 <= len(manifest) <= 4
    for r in manifest:
        assert Path(r["path"]).exists() and r["path"].endswith(".warc.gz")

    back = W.read_warc(spark, out + "/*.warc.gz")
    assert back.where("status = 'ok'").count() == 15
    assert back.select("url").distinct().count() == 15
    # byte-level: html payloads survive the round trip
    orig = {r["url"]: bytes(r["html"] or b"") for r in docs.collect()}
    for r in back.collect():
        assert bytes(r["html"] or b"") == orig[r["url"]]

    with pytest.raises(ValueError, match="local filesystem"):
        W.write_warc_table(docs, "s3://bucket/warc")


def test_wet_export_and_readback(spark, tmp_path):
    """WET round trip: curated text exported as conversion records
    (no HTTP envelope — the Common Crawl *.warc.wet.gz layout), read
    back into the documents schema with text filled, html NULL."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.sources.corpus import synthetic_documents

    docs = (
        synthetic_documents(spark, 9, seed=42)
        .where(F.col("text").isNotNull())
        .repartition(3)
    )
    n = docs.count()
    out = str(tmp_path / "wet_export")
    manifest = W.write_wet_table(docs, out).collect()
    assert sum(r["records"] for r in manifest) == n
    for r in manifest:
        assert r["path"].endswith(".warc.wet.gz")

    back = W.wet_to_documents(spark, out + "/*.warc.wet.gz")
    assert [f.name for f in back.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    got = {r["url"]: r for r in back.collect()}
    assert len(got) == n
    for r in docs.collect():
        assert got[r["url"]]["text"] == (r["text"] or "")
        assert got[r["url"]]["html"] is None
        assert got[r["url"]]["warc_ts"] == r["warc_ts"]


def test_warc_negative_content_length_terminates():
    """A negative Content-Length must terminate parsing with an error
    row — not move the cursor backwards and yield the same record
    forever (the infinite-loop/OOM a corrupt archive could trigger)."""
    from pdf_parser_spark.sources.warc import iter_warc_file

    head = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: -54\r\n\r\n"
    rows = list(iter_warc_file(head + b"body bytes here"))
    assert len(rows) == 1
    assert "negative Content-Length" in rows[0]["status"]


def test_warc_date_fractional_and_utc_instant():
    """WARC 1.1 fractional-second dates parse, and the result is an
    AWARE UTC datetime — Spark stores the correct instant regardless
    of spark.sql.session.timeZone (a naive datetime would be
    reinterpreted in the session zone)."""
    from datetime import timezone

    from pdf_parser_spark.sources.warc import _parse_warc_date

    d = _parse_warc_date("2024-03-01T12:30:00.123Z")
    assert d is not None and d.microsecond == 123000
    assert d.tzinfo is not None and d.utcoffset().total_seconds() == 0
    plain = _parse_warc_date("2024-03-01T12:30:00Z")
    assert plain is not None and plain.tzinfo == timezone.utc
    assert _parse_warc_date("not a date") is None


def test_warc_export_date_is_utc_in_any_session_zone(spark, tmp_path):
    """WARC-Date is written as the UTC instant whatever
    spark.sql.session.timeZone is: the export sees session-zone
    timestamps and must not print their wall clock with a 'Z'."""
    from datetime import timezone

    docs = spark.createDataFrame(
        [("https://a.example/", datetime(2024, 3, 1, 12, 30, tzinfo=timezone.utc), b"<p>x</p>")],
        "url string, warc_ts timestamp, html binary",
    )
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        W.write_warc_table(docs, str(tmp_path / "w")).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    (path,) = (tmp_path / "w").glob("*.warc.gz")
    assert b"WARC-Date: 2024-03-01T12:30:00Z\r\n" in gzip.decompress(path.read_bytes())
