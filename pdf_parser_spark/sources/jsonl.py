"""Lenient JSONL readers (SURVEY §2.1 S3-S5).

The reference streams JSONL and silently skips malformed lines
(orchestrate.py:31-38 iter_jsonl; validate.py:48-58 logs-and-skips).
Spark-first: schema-on-read in PERMISSIVE mode with an explicit
corrupt-record column — bad lines become accountable rows, never a
silent drop (the engine-wide parse-failure policy).

  read_jsonl            schema'd read + `_corrupt` column
  split_corrupt         (good_rows, corrupt_rows) pair
  TOC_SCHEMA            the reference ToC record shape
  coerce_chunks_column  legacy/export chunk records → modern shape
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..core.matching import coerce_chunk_record
from ..plans.rows import map_rows

CORRUPT_COL = "_corrupt"

TOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_title", T.StringType()),
        T.StructField("section_id", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("level", T.IntegerType()),
        T.StructField("parent_id", T.StringType()),
        T.StructField("full_path", T.StringType()),
    ]
)


def parse_jsonl_column(
    lines: DataFrame, col: str, schema: T.StructType, keep: list[str] | None = None
) -> DataFrame:
    """Lenient schema-on-read over an existing string COLUMN: malformed
    values keep their raw text in `_corrupt` with every data column
    null. The shared core of read_jsonl and of any pipeline whose JSON
    arrives embedded in a table (Kafka values, props columns, q56)."""
    full = T.StructType(schema.fields + [T.StructField(CORRUPT_COL, T.StringType())])
    parsed = lines.select(
        *(keep or []),
        F.from_json(
            col,
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("rec"),
    )
    return parsed.select(*(keep or []), "rec.*")


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Schema'd JSONL read via text + from_json: malformed lines keep
    their raw text in `_corrupt` with every data column null, blank
    lines are dropped. (The PERMISSIVE json reader forbids queries
    that touch only its corrupt column — text+from_json has no such
    restriction and makes the raw line first-class.)"""
    lines = spark.read.text(path).where(F.trim("value") != "")
    return parse_jsonl_column(lines, "value", schema)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good rows without the corrupt column, corrupt raw lines)."""
    good = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return good, bad


def read_toc_jsonl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    return split_corrupt(read_jsonl(spark, path, TOC_SCHEMA))


def coerce_chunks_column(
    df: DataFrame, col: str = "value", keep: list[str] | None = None
) -> DataFrame:
    """Legacy/export chunk-record coercion over a raw-JSON string
    column, DISTRIBUTED (SURVEY S5/E7; reference validate.py:204-258).

    Each value is parsed and run through the byte-parity core
    `coerce_chunk_record`: modern records (pydantic-shaped — string
    page_range, dict captions) pass through; export records split
    `start_heading`/`section_path` on the first space, stringify the
    two-element page_range list, and re-extract caption ids with the
    validator grammar (`Table 3-2. Foo` → `3-2`). Runs as one
    mapInArrow (plans/rows.map_rows) — per-row Python is unavoidable here
    because the coercion IS reference Python semantics (dict-shape
    dispatch + regex grammar), but batches amortize transfer and the
    operator is embarrassingly parallel (no shuffle, no state).

    Upstream corrupt-line handling belongs to parse_jsonl_column /
    read_jsonl (PERMISSIVE + `_corrupt`): this operator assumes every
    value is well-formed JSON, the same contract the reference's
    iter_jsonl-then-coerce pipeline gives its coercion loop.
    """
    keep = list(keep or [])
    out_schema = T.StructType(
        [df.schema[k] for k in keep]
        + [
            T.StructField("section_path", T.StringType()),
            T.StructField("section_id", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("page_range", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("tables", T.ArrayType(T.StringType())),
            T.StructField("figures", T.ArrayType(T.StringType())),
        ]
    )

    def coerce(value, *kept):
        yield {**dict(zip(keep, kept)), **coerce_chunk_record(json.loads(value))}

    return map_rows(df.select(col, *keep), coerce, out_schema)
