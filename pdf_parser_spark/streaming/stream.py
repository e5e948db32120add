"""Structured Streaming ingest for the extraction pipeline.

The reference is batch-only (SURVEY §2.11); the target corpus is a
continuously-landing Common-Crawl-style feed, so the engine exposes
the same per-document extraction as an incremental stream:

  readStream(documents dir) → mapInArrow extract → writeStream
  (parquet sink + checkpointLocation)

Design for scale:
  - the extraction operator is IDENTICAL to the batch path
    (operators/extract.py) — mapInArrow is stream-compatible, so
    batch/stream parity is by construction, not by re-implementation;
  - file-source + parquet-sink + checkpoint gives exactly-once per
    input file (the streaming twin of the batch job's anti-join
    resume); on Iceberg the sink is `toTable` with the same contract;
  - `windowed_doc_counts` demonstrates watermarked event-time
    aggregation on warc_ts (late data beyond the watermark dropped),
    the building block for freshness/throughput dashboards;
  - trigger(availableNow=True) drains the backlog and stops — used in
    tests and backfills; production uses the default micro-batch
    trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import EXTRACTED, extract_documents
from ..sources.corpus import DOCUMENTS_SCHEMA


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of documents rows (schema = input_hint)."""
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_extract(
    docs_stream: DataFrame, out_path: str, checkpoint: str, available_now: bool = False
):
    """Incremental extraction: same mapInArrow operator as batch.

    Returns the started StreamingQuery. No shuffle in the stream —
    stateless per-document transform, so watermarks are not needed
    on this leg.
    """
    extracted = extract_documents(docs_stream)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_doc_counts(
    docs_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked event-time rollup: docs and bytes per (window, lang).

    Late rows beyond the watermark are dropped (state is bounded —
    mandatory for an unbounded 10^12-doc feed); output mode `update`
    or `append` both work downstream.
    """
    ts = F.col("warc_ts").cast("timestamp")
    return (
        docs_stream.withColumn("ts", ts)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.length("text").cast("bigint")).alias("text_bytes"),
        )
        .select(F.col("w.start").alias("window_start"), "lang", "docs", "text_bytes")
    )


def stream_windowed_counts(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = False,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Run the watermarked rollup to a parquet sink (append mode emits
    a window once the watermark passes it)."""
    agg = windowed_doc_counts(docs_stream, window=window, watermark=watermark)
    writer = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_quality_rollup(
    docs_stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked corpus-hygiene dashboard: per (window, lang), doc
    counts, Gopher-keep rate and PII density — the streaming twin of
    the batch webtext tier (operators/webtext_filters), same column
    expressions by construction, so stream/batch parity needs no
    re-implementation. Exact integer sums; one final division."""
    from ..operators.webtext_filters import gopher_quality_flags, pii_redact

    ts = F.col("warc_ts").cast("timestamp")
    flagged = pii_redact(gopher_quality_flags(docs_stream.withColumn("ts", ts)))
    return (
        flagged.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.col("gopher_keep").cast("bigint")).alias("n_keep"),
            F.sum((F.col("n_emails") + F.col("n_phones") + F.col("n_ips")).cast("bigint")).alias(
                "n_pii"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "docs",
            "n_keep",
            "n_pii",
            (F.col("n_keep").cast("double") / F.col("docs")).alias("keep_rate"),
        )
    )
