"""Corpus IO: documents-table schema, synth→DataFrame, parquet round-trip.

The documents table follows BASELINE.json input_hint exactly:
(url string, warc_ts timestamp, html binary, text string, lang string).
In production this is an Iceberg table partitioned by bucket(N, url)
or days(warc_ts); here parquet stands in (same reader API surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T

from ..plans.rows import map_rows
from .synth import generate_corpus, make_document

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), nullable=False),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def synthetic_documents(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Deterministic in-memory documents DataFrame (tests/bench)."""
    rows = [
        (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"])
        for d in generate_corpus(n_docs, seed=seed)
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    return df.repartition(partitions) if partitions else df


def synthetic_documents_distributed(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int = 64
) -> DataFrame:
    """Corpus generation on the executors (bench/scale path).

    Driver-side generation is O(n) single-threaded Python; for scaling
    runs the generator itself must parallelize, so each partition
    synthesizes its own id range in one mapInArrow pass (doc content
    depends only on (doc_id, seed) — identical rows to
    synthetic_documents).
    """
    mega_every = 40

    def gen(i):
        yield make_document(i, seed=seed, mega=(i > 0 and i % mega_every == 0))

    return map_rows(spark.range(0, n_docs).repartition(partitions), gen, DOCUMENTS_SCHEMA)


def write_documents(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)


def write_documents_partitioned(df: DataFrame, path: str) -> None:
    """Date-partitioned layout — the parquet stand-in for Iceberg's
    days(warc_ts) partition transform: one directory per crawl day, so
    time-ranged scans prune at the FILE level (no data read outside
    the range). The derived warc_date column is the partition key;
    warc_ts stays on every row (Iceberg's hidden partitioning keeps
    the transform implicit; plain parquet needs the column spelled
    out, same pruning either way)."""
    from pyspark.sql import functions as F

    (
        df.withColumn("warc_date", F.to_date("warc_ts"))
        .write.mode("overwrite")
        .partitionBy("warc_date")
        .parquet(path)
    )


def read_documents_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read the date-partitioned layout; filters on warc_date become
    PartitionFilters (verified by tests/test_plans.py)."""
    schema = T.StructType(DOCUMENTS_SCHEMA.fields + [T.StructField("warc_date", T.DateType())])
    return spark.read.schema(schema).parquet(path)
